package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{ArtifactRegistry, SparkEntry}
import graft.pipeline.Pipeline
import graft.sources.Stores
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM: set-up repeated [[SetupReps]] times,
  * then the measured phase, with one client issuing one op at a time.
  * Writes raw observations (op latencies, set-up times, and in a traced
  * run the listener's layer sums and spans) as JSON for `run.py`, which
  * derives the metrics and checks the outputs.
  *
  * Usage: `perfbench.Main <key=value>...` with keys workload, seed,
  * seconds, trace (0|1), cpus, data, work, out, spawn_ms and, for the query
  * workloads, queries (comma-separated). */
object Main {
  val SetupReps = 3
  /** Ops of the fixed schedule a traced ETL run replays twice. */
  val TracedEtlOps = 9
  /** Last day of the ETL source; the set-up windows use it, the measured
    * phase starts from day 0 and never reaches it. */
  val SetupDay = 29

  final case class Op(id: String, kind: String, name: String, startNs: Long, endNs: Long,
                      buildNs: Long, ok: Boolean, err: String, rows: Long) {
    def s: Double = (endNs - startNs) / 1e9
  }

  final class Run(val args: Map[String, String]) {
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val work: String = args("work")
    val refNs: Long = System.nanoTime()
    val refMs: Long = System.currentTimeMillis()
    def epochMs(ns: Long): Double = refMs + (ns - refNs) / 1e6
    val ops = mutable.ArrayBuffer.empty[Op]
    val setupS = mutable.ArrayBuffer.empty[Double]
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val extra = mutable.LinkedHashMap.empty[String, String]
    /** The tracer while the traced phase runs, then the finished one. */
    var tracer: Option[Tracer] = None
    var finished: Option[Tracer] = None
    var nextOp = 0
    def newOpId(): String = { nextOp += 1; s"op-$nextOp" }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val r = new Run(args)
    val cpus = args("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${r.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${r.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    r.extra("session_s") = num((readyMs - args("spawn_ms").toLong) / 1e3)
    try {
      args("workload") match {
        case "etl_incremental" => etl(spark, r)
        case _ => queries(spark, r, args("queries").split(",").toSeq.filter(_.nonEmpty))
      }
    } finally {
      Files.writeString(Paths.get(args("out")), report(spark, r))
      spark.stop()
    }
  }

  // ---------------------------------------------------------------- ops

  private def timedOp(r: Run, kind: String, name: String, layer: String)
                     (body: String => Long): Op = {
    val id = r.newOpId()
    val sc = SparkSession.active.sparkContext
    if (r.tracer.isDefined) {
      sc.setLocalProperty(Tracer.OpProp, id)
      sc.setLocalProperty(Tracer.LayerProp, layer)
    }
    val t0 = System.nanoTime()
    val (ok, err, rows) =
      try (true, "", body(id))
      catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}", 0L) }
    val op = Op(id, kind, name, t0, System.nanoTime(), 0L, ok, err, rows)
    sc.setLocalProperty(Tracer.OpProp, null)
    sc.setLocalProperty(Tracer.LayerProp, null)
    if (r.tracer.isDefined) churn(SparkSession.active)
    r.ops += op
    op
  }

  private def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition { (it: Iterator[_]) =>
      while (it.hasNext) it.next()
    }

  private def setSpan(r: Run, span: String): Unit =
    if (r.tracer.isDefined)
      SparkSession.active.sparkContext.setLocalProperty(Tracer.OpProp, span)

  /** One query op: build the plan (eager probe and artifact jobs included),
    * then drain it, or write it when `outDir` is given. */
  private def queryOp(spark: SparkSession, r: Run, name: String, dir: String,
                      kind: String, outDir: Option[String] = None): Op = {
    var build = 0L
    val op = timedOp(r, kind, name, "catalog") { id =>
      setSpan(r, s"$id/build")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      build = System.nanoTime() - t0
      setSpan(r, s"$id/drain")
      outDir match {
        case Some(o) => df.coalesce(1).write.mode("overwrite").parquet(s"$o/$name")
        case None =>
          drain(df)
          r.tracer.foreach(_.addPhases(df.queryExecution))
      }
      0L
    }
    val withBuild = op.copy(buildNs = build)
    r.ops(r.ops.size - 1) = withBuild
    withBuild
  }

  private def permutation(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  private def copyInputs(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, Paths.get(to).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
  }

  private def queries(spark: SparkSession, r: Run, names: Seq[String]): Unit = {
    // Set-up, repeated: a fresh copy of the inputs, so every artifact keyed
    // by the input directory is built again, and every query's plan built
    // (artifact builds and eager probe jobs run here). Then once: a pass of
    // the measured ops, so that the drain paths are warm too.
    var dir = ""
    (1 to SetupReps).foreach { rep =>
      val builds0 = ArtifactRegistry.history().size
      val t0 = System.nanoTime()
      dir = s"${r.work}/data_$rep"
      copyInputs(r.args("data"), dir)
      permutation(names, r.seed, -rep).foreach(n =>
        timedOp(r, "setup", n, "catalog") { _ => SparkEntry.queries(n)(spark, dir); 0L })
      r.setupS += (System.nanoTime() - t0) / 1e9
      val builds = ArtifactRegistry.history().drop(builds0)
      r.extra("setup_artifact_builds") = builds.size.toString
      r.extra("setup_artifact_build_s") = num(builds.map(_.seconds).sum)
    }
    val w0 = System.nanoTime()
    permutation(names, r.seed, -SetupReps - 1).foreach(n => queryOp(spark, r, n, dir, "warm"))
    r.extra("warm_pass_s") = num((System.nanoTime() - w0) / 1e9)

    val builds0 = ArtifactRegistry.history().size
    if (!r.traced) {
      val t0 = System.nanoTime()
      var pass = 0
      while ((System.nanoTime() - t0) / 1e9 < r.seconds) {
        permutation(names, r.seed, pass).foreach(n => queryOp(spark, r, n, dir, "query"))
        pass += 1
      }
    } else {
      // the same pass untraced, traced, untraced again
      val order = permutation(names, r.seed, 0)
      untracedPhase(r)(order.foreach(n => queryOp(spark, r, n, dir, "untraced")))
      tracedPhase(spark, r) {
        order.foreach(n => queryOp(spark, r, n, dir, "query"))
      }
      untracedPhase(r)(order.foreach(n => queryOp(spark, r, n, dir, "untraced")))
    }
    r.extra("rebuilds") = (ArtifactRegistry.history().size - builds0).toString

    // After the measured phase: write every output for the checks.
    val out = s"${r.work}/out"
    permutation(names, r.seed, -SetupReps - 2).foreach(n =>
      queryOp(spark, r, n, dir, "check", Some(out)))
    r.extra("check_dir") = js(out)
    val oracle = names.map(n => s"${js(n)}:${js(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), oracle)
    heapLive(r)
  }

  // ---------------------------------------------------------------- ETL

  private def day(d: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(d) + " 00:00:00"

  /** i-th op of the measured schedule: inserts walk forward one day at a
    * time and each update replays, from the revised source, the window
    * inserted two ops earlier. */
  def schedule(i: Int): (String, Int) =
    if (i == 0) ("insert", 0)
    else if (i % 2 == 1) ("insert", (i + 1) / 2)
    else ("update", i / 2 - 1)

  private def etlOp(spark: SparkSession, r: Run, kind: String, d: Int, work: String,
                    tag: String): Op = {
    val src = s"${r.args("data")}/${if (kind == "insert") "rev0" else "rev1"}"
    timedOp(r, kind, s"$kind:$d", "pipeline") { id =>
      Pipeline.run(spark, src, day(d), day(d + 1), s"$tag$id", work).extracted
    }
  }

  private def scanOp(spark: SparkSession, r: Run, work: String, kind: String): Op =
    timedOp(r, kind, "mart_scan", "sources") { _ =>
      val df = Stores.martRead(spark, s"$work/mart")
      drain(df)
      r.tracer.foreach(_.addPhases(df.queryExecution))
      0L
    }

  private def etl(spark: SparkSession, r: Run): Unit = {
    (1 to SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      val w = s"${r.work}/setup_$rep"
      etlOp(spark, r, "insert", SetupDay, w, "s")
      etlOp(spark, r, "update", SetupDay, w, "s")
      scanOp(spark, r, w, "setup")
      r.setupS += (System.nanoTime() - t0) / 1e9
    }
    // setup ops are not measured ops: relabel them
    r.ops.indices.foreach(i => r.ops(i) = r.ops(i).copy(kind = "setup"))

    def sweep(work: String, n: Option[Int]): Unit = {
      val t0 = System.nanoTime()
      var i = 0
      def more = n match {
        case Some(k) => i < k
        case None => (System.nanoTime() - t0) / 1e9 < r.seconds && schedule(i)._2 < SetupDay
      }
      while (more) {
        val (kind, d) = schedule(i)
        etlOp(spark, r, kind, d, work, "t")
        i += 1
      }
    }
    if (!r.traced) {
      sweep(s"${r.work}/timed", None)
      scanOp(spark, r, s"${r.work}/timed", "scan")
      r.extra("check_mart") = js(s"${r.work}/timed/mart")
    } else {
      // the same schedule and scan untraced, traced, untraced again, each
      // on its own mart
      def untraced(k: Int): Unit = untracedPhase(r) {
        val first = r.ops.size
        sweep(s"${r.work}/untraced_$k", Some(TracedEtlOps))
        scanOp(spark, r, s"${r.work}/untraced_$k", "scan")
        (first until r.ops.size).foreach(i =>
          r.ops(i) = r.ops(i).copy(kind = "untraced_" + r.ops(i).kind))
      }
      untraced(1)
      tracedPhase(spark, r) {
        sweep(s"${r.work}/traced", Some(TracedEtlOps))
        scanOp(spark, r, s"${r.work}/traced", "scan")
      }
      untraced(2)
      r.extra("check_mart") = js(s"${r.work}/traced/mart")
    }
    heapLive(r)
  }

  // ---------------------------------------------------------------- tracing

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private type Storage = Map[Int, (Int, Long, Long)]
  private def storage(spark: SparkSession): Storage =
    spark.sparkContext.getRDDStorageInfo.map(i =>
      i.id -> ((i.numCachedPartitions, i.memSize, i.diskSize))).toMap

  /** Run `body` with no listener attached and add its time to `untraced_s`. */
  private def untracedPhase(r: Run)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    r.untracedS += (System.nanoTime() - t0) / 1e9
  }

  /** Attach the tracer, run `body`, wait for the listener to balance, detach. */
  private def tracedPhase(spark: SparkSession, r: Run)(body: => Unit): Unit = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    r.tracer = Some(t)
    lastStorage = Some(storage(spark))
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    body
    r.extra("traced_s") = num((System.nanoTime() - t0) / 1e9)
    r.extra("driver_gc_s") = num((gcMs() - gc0) / 1e3)
    t.sync()
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
    r.tracer = None
    r.finished = Some(t)
    r.extra("cache_drops") = drops.toString
    r.extra("cache_spills") = spills.toString
  }

  private var drops = 0
  private var spills = 0
  private var lastStorage: Option[Storage] = None

  /** Storage churn since the previous op boundary (traced run only). */
  private def churn(spark: SparkSession): Unit = {
    val now = storage(spark)
    lastStorage.foreach { before =>
      before.foreach { case (id, (cp0, mem0, disk0)) =>
        now.get(id).foreach { case (cp1, mem1, disk1) =>
          if (cp1 < cp0) drops += 1
          else if (mem1 < mem0 && disk1 > disk0) spills += 1
        }
      }
    }
    lastStorage = Some(now)
  }

  private def heapLive(r: Run): Unit = {
    System.gc(); System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    r.extra("heap_live_mb") = num(used / 1048576.0)
  }

  // ---------------------------------------------------------------- output

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def report(spark: SparkSession, r: Run): String = {
    val ops = r.ops.map { o =>
      s"""{"id":${js(o.id)},"kind":${js(o.kind)},"name":${js(o.name)},""" +
        s""""start_ms":${num(r.epochMs(o.startNs))},"end_ms":${num(r.epochMs(o.endNs))},""" +
        s""""s":${num(o.s)},"build_s":${num(o.buildNs / 1e9)},"ok":${o.ok},""" +
        s""""err":${js(o.err)},"rows":${o.rows}}"""
    }.mkString("[", ",", "]")
    val fields = mutable.LinkedHashMap[String, String](
      "ops" -> ops,
      "setup_s" -> r.setupS.map(num).mkString("[", ",", "]"),
      "untraced_s" -> r.untracedS.map(num).mkString("[", ",", "]"))
    fields ++= r.extra
    r.finished.foreach { t =>
      def sums(s: Tracer.TaskSums) =
        s"""{"tasks":${s.tasks},"useful":${s.useful},"failed":${s.failed},""" +
          s""""run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"deser_ms":${s.deserMs},""" +
          s""""gc_ms":${s.gcMs},"delay_ms":${s.delayMs},"result_bytes":${s.resultBytes},""" +
          s""""shuffle_read":${s.shuffleRead},"shuffle_write":${s.shuffleWrite},""" +
          s""""spill":${s.spill},"written":${s.written}}"""
      t.synchronized {
        fields("jobs") = t.jobs.values.map(j =>
          s"""{"id":${j.id},"layer":${js(j.layer)},"op":${js(j.op)},""" +
            s""""start_ms":${j.start},"end_ms":${j.end}}""").mkString("[", ",", "]")
        fields("layers") = t.byLayer.map { case (k, v) => s"${js(k)}:${sums(v)}" }.mkString("{", ",", "}")
        fields("total") = sums(t.total)
        fields("stages") = t.stagesDone.toString
        fields("phases_ms") = t.phaseMs.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
      }
    }
    fields.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
  }
}
