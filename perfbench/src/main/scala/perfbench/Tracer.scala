package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution for the traced run.
  *
  * Every Spark job is charged to the module of the first `graft.` frame in
  * its call site. Jobs started from AQE or broadcast pool threads carry no
  * engine frame of their own; they resolve through `spark.sql.execution.id`
  * to the call site recorded by that SQL execution's start event. A job with
  * neither is charged to the layer the benchmark declared around its own
  * call (`perfbench.layer`, e.g. the drain of a query plan), and anything
  * left over goes to `unattributed`.
  *
  * The listener-bus thread writes all state under the tracer's lock;
  * [[Tracer.sync]] makes the bench thread wait, on events rather than on a
  * sleep, until that thread has delivered every event the run produced. */
object Tracer {
  val LayerProp = "perfbench.layer"
  val OpProp = "perfbench.op"
  val BarrierDesc = "perfbench-barrier"

  /** Package (or object) prefix → layer; other engine frames are "other". */
  private val Modules = Seq(
    "graft.pipeline." -> "pipeline", "graft.sources." -> "sources",
    "graft.ops." -> "ops", "graft.plans." -> "ops",
    "graft.ext." -> "ext", "graft.functions." -> "ext",
    "graft.SparkEntry" -> "catalog")

  /** Layer of the first engine frame in a long-form call site, if any. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") =>
        Modules.collectFirst { case (p, m) if f.startsWith(p) => m }
          .getOrElse("other")
    }

  final case class Job(id: Int, start: Long, var end: Long, layer: String, op: String)

  /** Summed task metrics of one group of tasks (one layer, or all). */
  final class TaskSums {
    var tasks, useful, failed = 0L
    var runMs, cpuNs, deserMs, gcMs, delayMs = 0L
    var resultBytes, shuffleRead, shuffleWrite, spill, written = 0L
  }
}

final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val execCallSite = mutable.Map.empty[Long, String]
  private val stageToJob = mutable.Map.empty[Int, Int]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val byLayer = mutable.Map.empty[String, TaskSums]
  val total = new TaskSums
  var stagesDone = 0L
  private var jobStarts, jobEnds, taskStarts, taskEnds = 0L
  private var barrierEnds = 0L
  private val barrierJobs = mutable.Set.empty[Int]

  /** Catalyst phase milliseconds of every action the engine ran. */
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val qePhases = new ConcurrentLinkedQueue[Map[String, Long]]()

  private def layerOfJob(props: java.util.Properties, callSite: String): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    moduleOf(callSite)
      .orElse(prop("spark.sql.execution.id")
        .flatMap(id => execCallSite.get(id.toLong)).flatMap(moduleOf))
      .orElse(prop(LayerProp))
      .getOrElse("unattributed")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += 1
    val props = e.properties
    val desc = Option(props).flatMap(p => Option(p.getProperty("spark.job.description")))
    if (desc.contains(BarrierDesc)) { barrierJobs += e.jobId; return }
    // the result stage is the job's newest stage; its details are the
    // job's long-form call site
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val op = Option(props).flatMap(p => Option(p.getProperty(OpProp))).getOrElse("")
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, layerOfJob(props, callSite), op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds += 1
    jobs.get(e.jobId).foreach(_.end = e.time)
    if (barrierJobs.remove(e.jobId)) barrierEnds += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageToJob.contains(e.stageInfo.stageId)) stagesDone += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { taskStarts += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskEnds += 1
    val job = stageToJob.get(e.stageId).flatMap(jobs.get)
    if (job.isEmpty) return
    val sums = Seq(total, byLayer.getOrElseUpdate(job.get.layer, new TaskSums))
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    val ok = e.reason == org.apache.spark.Success
    sums.foreach { s =>
      s.tasks += 1
      if (!ok) s.failed += 1
      m.foreach { t =>
        val records = t.inputMetrics.recordsRead + t.shuffleReadMetrics.recordsRead
        if (records > 0) s.useful += 1
        s.runMs += t.executorRunTime
        s.cpuNs += t.executorCpuTime
        s.deserMs += t.executorDeserializeTime
        s.gcMs += t.jvmGCTime
        s.resultBytes += t.resultSize
        s.shuffleRead += t.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        s.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        s.written += t.outputMetrics.bytesWritten
        if (info.finished) {
          val gettingResult =
            if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
          s.delayMs += math.max(0L, info.finishTime - info.launchTime - t.executorRunTime -
            t.executorDeserializeTime - t.resultSerializationTime - gettingResult)
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized { e match {
    case s: SparkListenerSQLExecutionStart => execCallSite(s.executionId) = s.details
    case _ =>
  } }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qePhases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Add the phases of a plan the benchmark executed itself (a drain goes
    * through `toRdd`, which the execution listener never sees). */
  def addPhases(qe: QueryExecution): Unit =
    qePhases.add(qe.tracker.phases.map { case (k, v) => k -> v.durationMs })

  /** Run a marker job and wait until the listener has seen its end and every
    * job and task start has its end. The bus delivers events in order, so
    * every event of the work before the marker has been handled by then. */
  def sync(): Unit = {
    val want = synchronized { barrierEnds + 1 }
    sc.setJobDescription(BarrierDesc)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def balanced = synchronized {
      barrierEnds >= want && jobStarts == jobEnds && taskStarts == taskEnds
    }
    while (!balanced) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener events did not balance within 60 s")
      Thread.onSpinWait()
    }
    synchronized {
      var p = qePhases.poll()
      while (p != null) {
        p.foreach { case (k, v) => phaseMs(k) += v }
        p = qePhases.poll()
      }
    }
  }
}
