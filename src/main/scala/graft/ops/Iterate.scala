package graft.ops

import org.apache.spark.sql.DataFrame

/** The round boundary of the engine's iterative operators (k-core, label
  * propagation, BFS, min-label connected components). */
object Iterate {

  /** Persist and materialize one round's frame, then rebase it on the
    * persisted RDD (a LogicalRDD leaf), so the next round starts from
    * stored data with a constant-size logical plan. Returns the rebased
    * frame plus the persisted original, the handle the caller
    * unpersists once the following round has materialized.
    *
    * This cuts the LOGICAL plan only: each round's task binary still
    * references every earlier round's RDD graph. Loops deep enough to
    * overflow the task deserializer's stack need PageRank's eager
    * `localCheckpoint` cut instead (GraphOps.checkpointCut). */
  def cut(df: DataFrame): (DataFrame, DataFrame) = {
    val p = df.persist()
    p.count()
    (p.sparkSession.createDataFrame(p.rdd, p.schema), p)
  }
}
