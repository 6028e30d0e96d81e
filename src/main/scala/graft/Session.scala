package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place the engine's local session is configured, drained and
  * warmed. Every entry point (Bench, Verify, Smoke, ScaleGen, ScaleAudit,
  * QueryProfile, PlanDump) and the test session go through here, so they
  * all run the same engine. */
object Session {

  /** Core count: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * nanosecond parquet timestamps read as longs (events.ts is ns), AQE
    * on and no UI. `getOrCreate`, so a second call returns the live
    * session. */
  def local(cpus: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Force full evaluation of every output row WITHOUT an aggregating
    * action: `count()` lets Catalyst prune all columns (a projection-only
    * query then measures ~nothing and expression cost is under-weighted).
    * Draining the executed plan's internal-row iterator materializes every
    * column of every row on the executors — an honest no-op sink with no
    * driver collect. */
  def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { it =>
      while (it.hasNext) it.next()
    }

  /** Warm the session (codegen, shuffle service, parquet footer reads) so
    * start-up cost is not charged to whichever query happens to run
    * first: one region scan, then a drain of `q_projection`. */
  def warm(spark: SparkSession, dir: String): Unit = {
    spark.read.parquet(s"$dir/region.parquet").count()
    SparkEntry.queries.get("q_projection")
      .foreach(fn => try drain(fn(spark, dir)) catch { case _: Throwable => })
  }
}
