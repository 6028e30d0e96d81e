package graft

/** Empirical scale audit: times a fixed set of the engine's most
  * expensive queries against one sf dir and reports per-query best-of-N
  * seconds, shared-artifact build seconds, and driver-heap evidence.
  * Run it once against `/root/testdata/sf0.1` and once against a
  * [[ScaleGen]]-produced k× scratch dir; the per-query time ratios are
  * the measured scaling exponents SCALE.md §9 records (ratio ≈ k is
  * linear; the iterative/bounded-grid class should come in below k).
  *
  * Heap evidence: used-heap after a forced GC at start and end, plus the
  * summed heap-pool peak — a driver accumulating per-row state (the
  * scale-killer class) shows an end−start delta growing with k; bounded
  * artifacts (grids, centroids, heaps) do not.
  *
  * Usage: `runMain graft.ScaleAudit <sfDir> [query ...]`
  */
object ScaleAudit {
  val DefaultQueries: Seq[String] = Seq(
    "q_ipf_rake", "q_pagerank", "q_ppr_seeds", "q_item_cf_topk",
    "q_containment_pairs", "q_spearman", "q_rfm", "q_bfs_hops", "q_kcore",
    "q_cut_spans", "q_brunner_munzel", "q_lm_dirichlet",
    "q_lsh_recall_audit", "q_simhash_near_dups", "q_bm25_batch")

  private def usedHeapMb(): Long = {
    System.gc()
    Thread.sleep(200)
    val u = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage
    u.getUsed / (1024 * 1024)
  }

  private def peakHeapMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024 * 1024)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    // "ALL" sweeps the entire query surface (sorted, the bench order) —
    // the full-surface scaling check; otherwise the named subset
    val names =
      if (args.length > 1 && args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else DefaultQueries
    val passes = sys.env.getOrElse("SPARK_GRAFT_AUDIT_PASSES", "2").toInt max 1
    val spark = Session.local()
    Session.warm(spark, dir)

    val heapStart = usedHeapMb()
    // pass 1 pays shared-artifact builds (reported separately below);
    // interleaved passes + min mirrors the bench protocol
    val passTimes = (1 to passes).map { _ =>
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok = try { Session.drain(fn(spark, dir)); true }
        catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        name -> (if (ok) sec else -sec)
      }.toMap
    }
    val heapEnd = usedHeapMb()

    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = names.map { n =>
      val samples = passTimes.map(_(n))
      s"\"" + n + "\":" + r3(samples.min)
    }.mkString("{", ",", "}")
    val allPasses = names.map { n =>
      s"\"" + n + "\":" + passTimes.map(p => r3(p(n))).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val artifacts = ArtifactRegistry.snapshot()
    val artJson = artifacts.toSeq.sortBy(_._1).map { case (k, (n, s)) =>
      s"\"" + k + s"\":{\"builds\":$n,\"secs\":${r3(s)}}"
    }.mkString("{", ",", "}")
    val artifactSecs = artifacts.valuesIterator.map(_._2).sum
    println(s"""{"dir":"$dir","queries":$qs,"passes_detail":$allPasses,""" +
      s""""artifact_build_secs":${r3(artifactSecs)},"artifacts":$artJson,""" +
      s""""heap_start_mb":$heapStart,"heap_end_mb":$heapEnd,""" +
      s""""heap_peak_mb":${peakHeapMb()},"n_queries":${names.size}}""")
    spark.stop()
  }
}
