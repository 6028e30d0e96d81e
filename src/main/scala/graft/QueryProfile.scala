package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Per-query execution profile: number of Spark jobs, stages, tasks and
  * per-job wall ms a query triggers, plus construction (plan-build) time —
  * the measurement harness behind the optimization round's "where does a
  * 0.5 s query spend its time" question (guide §1: measure first; at sf0.1
  * in local mode most of the tail cost is job/stage count, not bytes).
  *
  * Usage: `runMain graft.QueryProfile <sfDir> <passes> <query> [query ...]`
  * Reports, for each query and pass: jobs, stages, tasks, per-job ms,
  * build ms (fn invocation = plan construction incl. any eager probe
  * jobs), drain ms, and the operator counts of the final (post-AQE)
  * physical plan. The last pass is the warm one (JIT/codegen).
  */
object QueryProfile {
  private val BarrierDesc = "query-profile-barrier"
  private val SyncDeadlineSecs = 60L

  /** Job/stage/task counters fed by the async listener bus. All state is
    * guarded by the listener's own monitor; every job end notifies it. */
  private final class Counts extends SparkListener {
    var starts, ends, barrierEnds, stages, tasks = 0
    val jobMs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    private val open = scala.collection.mutable.Map.empty[Int, (Long, String)]
    private val barrierJobs = scala.collection.mutable.Set.empty[Int]
    private val barrierStages = scala.collection.mutable.Set.empty[Int]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      if (desc == BarrierDesc) {
        barrierJobs += j.jobId
        barrierStages ++= j.stageIds
      } else {
        starts += 1
        open(j.jobId) = (j.time, desc)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      if (barrierJobs.remove(j.jobId)) barrierEnds += 1
      else {
        ends += 1
        open.remove(j.jobId).foreach { case (t0, desc) =>
          jobMs += ((j.jobId, j.time - t0, desc))
        }
      }
      notifyAll()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        if (!barrierStages.remove(s.stageInfo.stageId)) {
          stages += 1
          tasks += s.stageInfo.numTasks
        }
      }

    def reset(): Unit = synchronized { jobMs.clear(); stages = 0; tasks = 0 }

    /** Block until the listener has delivered every event posted so far:
      * run one barrier job (its end is queued behind every earlier event)
      * and wait until the listener has seen it and as many job ends as
      * job starts. Throws, naming the query, past the deadline. */
    def sync(sc: SparkContext, query: String): Unit = {
      val want = synchronized(barrierEnds) + 1
      sc.setJobDescription(BarrierDesc)
      try sc.parallelize(Seq(0), 1).foreach(_ => ())
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + SyncDeadlineSecs * 1000000000L
      synchronized {
        while (barrierEnds < want || starts != ends) {
          val leftMs = (deadline - System.nanoTime()) / 1000000L
          if (leftMs <= 0)
            throw new IllegalStateException(
              s"QueryProfile: $query — listener saw $starts job starts but " +
                s"$ends job ends after $SyncDeadlineSecs s")
          wait(leftMs)
        }
      }
    }
  }

  /** One-line count of selected operators in the final physical plan
    * (query stages included; the initial plan AQE keeps beside it is
    * not counted). */
  private def operatorCounts(df: DataFrame): String = {
    val plan = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    def n(token: String) = token.r.findAllIn(plan).length
    s"exchanges=${n("Exchange")} sorts=${n("Sort ")} " +
      s"bcJoins=${n("BroadcastHashJoin")} windows=${n("Window")} " +
      s"nestedLoop=${n("NestedLoop")}"
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val passes = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = Session.local()
    Session.warm(spark, dir)
    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"no such query: $name")
        case Some(fn) =>
          (1 to passes).foreach { pass =>
            counts.reset()
            val t0 = System.nanoTime()
            val df = fn(spark, dir)
            val t1 = System.nanoTime()
            try Session.drain(df) catch { case e: Throwable =>
              System.err.println(s"$name FAILED: $e")
            }
            val t2 = System.nanoTime()
            counts.sync(spark.sparkContext, name)
            val (jl, stages, tasks) = counts.synchronized(
              (counts.jobMs.toSeq.sortBy(_._1), counts.stages, counts.tasks))
            println(
              f"$name%-28s pass=$pass total=${(t2 - t0) / 1e6}%8.1f ms " +
              f"build=${(t1 - t0) / 1e6}%8.1f ms drain=${(t2 - t1) / 1e6}%8.1f ms " +
              f"jobs=${jl.size}%3d stages=$stages%3d tasks=$tasks%4d\n" +
              s"    plan: ${operatorCounts(df)}\n" +
              jl.map { case (id, ms, desc) =>
                f"    job#$id%-4d ${ms}%6d ms  ${desc.take(70)}"
              }.mkString("\n"))
          }
      }
    }
    spark.stop()
  }
}
