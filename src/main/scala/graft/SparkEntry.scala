package graft

import graft.ext.{ClassifyOps, DedupOps, MultimodalOps, SamplingOps, SimilarityOps, TextOps}
import graft.ops.{CoreOps, QualityCheck, SkewOps, TemporalOps}
import graft.sources.Stores
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Driver contract (SURVEY.md §7.0): one named query per implemented operator
 * from SURVEY.md §2, each with a DuckDB-equivalent oracle in [[oracleSql]].
 *
 * Determinism rules (SURVEY.md §7.4): every query ends in a total ORDER BY
 * including a unique key; aggregated doubles go through DECIMAL (exact,
 * order-independent) and are cast back to double; counts are BIGINT on both
 * sides; row_number is cast to BIGINT; cross-engine hashing is md5-based.
 */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Stores.table(spark, dir, name)

  /** SQL-entry-point queries: register the named tables as temp views and
    * run the statement through `spark.sql`. Used for the correlated-subquery
    * shapes (TPC-H Q2/Q9/Q11/Q20/Q21 analogs) where the surface under test
    * is Catalyst's decorrelation itself — the SQL text is shared nearly
    * verbatim with the DuckDB oracle. */
  private def sqlq(s: SparkSession, d: String, tables: Seq[String],
                   sql: String): DataFrame = {
    tables.foreach(n => t(s, d, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  /** sum(cast decimal) cast back to double — exact, order-independent. */
  private def dsum(c: org.apache.spark.sql.Column, p: Int = 12, s: Int = 2) =
    sum(c.cast(DecimalType(p, s))).cast("double")

  // ---- persisted cluster artifacts (built once per JVM per sf dir) ---------
  //
  // A production pipeline clusters its dup graphs ONCE per ingest wave and
  // answers every downstream question (keep/ban/split/audit/graph analytics)
  // from the persisted [[graft.ext.ClusterStore]] tables. Verify/Bench run
  // all queries in one JVM, so the build is memoized per (sfDir, store): the
  // first consumer pays the one clustering job, every other consumer reads
  // parquet — the artifact economics the store exists to model. Results are
  // order-independent: each store is a pure function of the fixture tables.
  private def artifact(name: String, d: String)(build: String => Unit): String =
    ArtifactRegistry.memo(s"store:$name@$d") {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft_store_${name}_").toString + "/store"
      build(p)
      p
    }
  private def store(name: String, d: String)(pairs: => DataFrame): String =
    artifact(name, d)(p => graft.ext.ClusterStore.build(p, pairs))

  /** Trained BPE merge table (6 rules, half-corpus hash sample, batched
    * rounds) — memoized per sf dir like the stores: a production
    * pipeline trains the tokenizer ONCE per corpus wave and every
    * consumer (budget gate, fertility audit) reads the artifact. */
  private def trainedBpeMerges(s: SparkSession, d: String): Seq[String] =
    ArtifactRegistry.memo(s"model:bpe@$d") {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      TextOps.bpeTrainMerges(
        SamplingOps.hashSample(docs, "doc_id", k = 2, r = 0), "text",
        nMerges = 6, batch = 3)
    }

  /** Synthetic chain dup graph (multi-hop components) — the CC fixture. */
  private def chainStore(s: SparkSession, d: String): String =
    store("chain", d) {
      t(s, d, "documents").filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
    }

  /** The SAME chain graph built INCREMENTALLY: base store from the
    * decade-opening edges only, then ONE append folding in the rest —
    * the batch exercises both growth modes (node 10k+3 is brand-new;
    * edge (10k+1, 10k+2) merges two existing clusters). The
    * mergeComponents contract says labels after append are
    * row-identical to a full rebuild, so its consumer shares
    * `q_dedup_clusters`' full-pair-set oracle verbatim. */
  private def chainIncrStore(s: SparkSession, d: String): String =
    artifact("chain_incr", d) { p =>
      val edges = t(s, d, "documents").filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      graft.ext.ClusterStore.build(p, edges.filter(col("id1") % 10 === 0))
      graft.ext.ClusterStore.append(p, edges.filter(col("id1") % 10 =!= 0))
    }

  /** The 5-artifact BASE every wave store starts from — base corpus
    * (doc_id < 100) admitted as-is with corpus rows, band index, cluster
    * store, ANN cells, and BM25 postings built over it. All three wave
    * stores used to rebuild this identical base from scratch (3 × 5
    * Spark jobs); now it is built ONCE and filesystem-copied into each
    * wave store root — byte-identical inputs, ~2/3 of the base-build
    * seconds gone from `artifact_build_secs`. */
  private def ingestBaseStore(s: SparkSession, d: String): String =
    artifact("ingest_base", d) { p =>
      val base = docsWithVec(s, d).filter(col("doc_id") < 100)
      val st = graft.ext.IngestOps.WaveStores(
        s"$p/corpus", s"$p/bandidx", s"$p/clusters", s"$p/ann",
        s"$p/lex", s"$p/report")
      base.drop("embedding").write.parquet(s"${st.corpusPath}/wave=0")
      DedupOps.bandIndex(base, "doc_id", "text", n = 3, numHashes = 16,
          bands = 4)
        .write.parquet(s"${st.bandIndexPath}/wave=0")
      graft.ext.ClusterStore.build(st.clusterPath,
        DedupOps.minhashDedupPairs(base, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, threshold = 0.4))
      graft.ext.AnnIndexStore.save(st.annPath,
        base.filter(col("embedding").isNotNull), "doc_id", "embedding",
        embCentroids(s, d))
      graft.ext.LexIndexStore.build(st.lexPath, base, "doc_id", "text")
      ()
    }

  private def docsWithVec(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").join(
      t(s, d, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding")),
      Seq("doc_id"), "left")

  /** The paired-family fixture: per-user click vs view spend as EXACT
    * cent sums (decimal-routed, order-independent) — one row per user,
    * a null side where the user lacks that event type. */
  private def pairedSpend(s: SparkSession, d: String): DataFrame = {
    def centsOf(tpe: String) =
      sum(when(col("event_type") === tpe,
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast("long")))
    t(s, d, "events")
      .filter(col("event_type").isin("click", "view") &&
        col("value").isNotNull)
      .groupBy("user_id")
      .agg(centsOf("click").as("click_cents"),
        centsOf("view").as("view_cents"))
  }

  /** Recursive local-FS copy of the shared base into a wave store root.
    * Plain NIO, not a Spark job: these are memoizer temp dirs on local
    * disk, and the copy replaces five Spark job chains per store. */
  private def copyTree(src: String, dst: String): Unit = {
    val sp = java.nio.file.Paths.get(src)
    val dp = java.nio.file.Paths.get(dst)
    val it = java.nio.file.Files.walk(sp).iterator()
    while (it.hasNext) {
      val f = it.next()
      val to = dp.resolve(sp.relativize(f))
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** End-to-end INGEST WAVE artifact root: the shared [[ingestBaseStore]]
    * copied in, then ONE [[graft.ext.IngestOps.ingestWave]] over the rest
    * — quality gate → in-batch near-dup → vs-corpus near-dup → lockstep
    * appends + admission report. The report is the oracle surface;
    * artifact equality vs batch rebuilds is IngestWaveSpec's job. */
  private def buildWave(s: SparkSession, d: String, p: String,
                        semanticThreshold: Option[Double],
                        basePath: String,
                        waveUpper: Option[Long] = None): Unit = {
    copyTree(basePath, p)
    val st = graft.ext.IngestOps.WaveStores(
      s"$p/corpus", s"$p/bandidx", s"$p/clusters", s"$p/ann",
      s"$p/lex", s"$p/report")
    val wave = waveUpper.foldLeft(
      docsWithVec(s, d).filter(col("doc_id") >= 100))(
      (w, u) => w.filter(col("doc_id") < u))
    graft.ext.IngestOps.ingestWave(s, wave, "doc_id", "text",
      "embedding", st, waveId = 1,
      semanticThreshold = semanticThreshold)
    ()
  }

  private def waveStore(s: SparkSession, d: String): String =
    // wave bounded to [100, 2600): 1900 embedded + 600 null-embedding
    // docs — the widest of the three waves, still exercising the
    // null-vec ANN-append path; per-operator full-corpus coverage lives
    // in the dedicated dedup/gate queries, and the wave composition is
    // size-independent
    artifact("ingest_wave", d)(
      buildWave(s, d, _, None, ingestBaseStore(s, d), waveUpper = Some(2600L)))

  /** The same wave with the SemDeDup gate armed: survivors of the text
    * gates must ALSO clear cosine < 0.4 against every already-admitted
    * embedding (sign-LSH bucket candidates, exact 6dp verify). */
  private def waveSemStore(s: SparkSession, d: String): String =
    // wave bounded to [100, 2000): embeddings stop at vec_id 1999, so
    // docs beyond add zero semantic-path coverage — they'd ride the
    // plain-text gates q_ingest_wave already covers at full width, at
    // ~2.5× the build cost of the most expensive bench artifact
    artifact("ingest_wave_sem", d)(
      buildWave(s, d, _, Some(0.4), ingestBaseStore(s, d),
        waveUpper = Some(2000L)))

  /** TWO sequential waves over the same stores (base < 100; wave 1 =
    * [100, 300); wave 2 = [300, ∞)) — the sequencing path under oracle
    * coverage: wave 2's corpus near-dup gate must see base ∪ wave-1
    * admissions through the accreted band index. */
  private def waveSeqStore(s: SparkSession, d: String): String =
    artifact("ingest_wave_seq", d) { p =>
      copyTree(ingestBaseStore(s, d), p)
      val withVec = docsWithVec(s, d)
      val st = graft.ext.IngestOps.WaveStores(
        s"$p/corpus", s"$p/bandidx", s"$p/clusters", s"$p/ann",
        s"$p/lex", s"$p/report")
      graft.ext.IngestOps.ingestWave(s,
        withVec.filter(col("doc_id") >= 100 && col("doc_id") < 300),
        "doc_id", "text", "embedding", st, waveId = 1)
      // wave 2 bounded to [300, 1300): the sequencing contract (wave 2's
      // corpus gate sees base ∪ wave-1 admissions through the accreted
      // band index) is size-independent; the full-width single wave
      // stays covered by q_ingest_wave
      graft.ext.IngestOps.ingestWave(s,
        withVec.filter(col("doc_id") >= 300 && col("doc_id") < 1300),
        "doc_id", "text", "embedding", st, waveId = 2)
      ()
    }

  /** Verified MinHash near-dup pairs at the catch-all 0.4 threshold, with
    * exact-Jaccard scores — consumers gate on `jaccard` (band candidates
    * are threshold-independent, so filtering the 0.4 table at 0.9 is
    * row-identical to a direct threshold-0.9 run). */
  private def minhashStore(s: SparkSession, d: String): String =
    store("minhash", d) {
      DedupOps.minhashDedupPairs(t(s, d, "documents"), "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.4, maxBandDf = 50)
    }

  /** Rare-shingle dup-EVIDENCE graph (df 2..5 3-grams) — the dense graph
    * the graph-analytics suite runs on. */
  private def evidenceStore(s: SparkSession, d: String): String =
    store("evidence", d) {
      DedupOps.rareShingleEdges(t(s, d, "documents"), "doc_id", "text",
        n = 3, minDf = 2, maxDf = 5)
    }

  /** Embedding-cosine near-dup pairs (SemDeDup graph). */
  private def semanticStore(s: SparkSession, d: String): String =
    store("semantic", d) {
      SimilarityOps.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nBits = 4, stride = 8)
    }

  /** Nested-DOCUMENT parquet source (memoized like the stores): one row
    * per user with a nested `profile` struct and an array-of-structs of
    * the user's events, canonically ordered by event_id — the document
    * shape the reference reads from Mongo (DAG:94-132), materialized so
    * queries and plan audits exercise nested predicate pushdown + nested
    * schema pruning against a REAL columnar source. */
  private def nestedDocStore(s: SparkSession, d: String): String =
    artifact("nesteddoc", d) { p =>
      t(s, d, "events")
        .filter(col("user_id").isNotNull && col("event_id").isNotNull)
        .select(col("user_id"), col("ts"),
          struct(col("event_id"), col("event_type"), col("value"),
            col("ts")).as("__e"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("__e"))).as("events"),
          count(lit(1)).as("__n"), min(col("ts")).as("__first"))
        .select(col("user_id"),
          struct(col("__n").as("n_events"), col("__first").as("first_ts"))
            .as("profile"),
          col("events"))
        .write.mode("overwrite").parquet(p)
    }

  /** documents (sans text) exported ONCE per sf dir as JSON-lines — the
    * document store the custom DataSource V2 connector
    * ([[graft.sources.DocsDataSource]], `format("graft-docs")`) fronts.
    * Written THROUGH the connector's own write path (two-phase-commit
    * staged files), so `q_docstore_scan` exercises the full
    * source+sink lifecycle of the seam. */
  private def docsJsonStore(s: SparkSession, d: String): String =
    artifact("docsjson", d) { p =>
      t(s, d, "documents").select("doc_id", "lang", "source", "n_chars")
        .write.format("graft-docs").option("path", p)
        .mode("overwrite").save()
    }

  /** A persisted frame memoized per key and bound to the session that
    * built it ([[ArtifactRegistry.memo]]'s session rule). */
  private def memoDf(s: SparkSession, key: String, tag: String)
                    (build: => DataFrame): DataFrame =
    ArtifactRegistry.memo(s"frame:$tag@$key", Some(s))(build)

  /** Shared [[graft.ext.DedupOps.ShingleIndex]] over `documents` (3-gram,
    * df-cap 50) — the whole set-similarity family (full inverted-index
    * Jaccard, prefix Jaccard, containment) starts from the same kernel
    * shingle pass, so it is memoized per sf dir like the stores: the
    * first similarity query pays the shingle kernel + df-cap exchange,
    * every later one reads the cache. Session-bound, like [[memoDf]]. */
  private def docShingleIndex(s: SparkSession, d: String)
      : graft.ext.DedupOps.ShingleIndex =
    ArtifactRegistry.memo(s"index:shingle@$d", Some(s))(
      DedupOps.shingleIndex(t(s, d, "documents"), "doc_id", "text",
        n = 3, maxShingleDf = 50))

  /** Shared WINNOW fingerprint artifact over `documents` (char-8-gram,
    * window 16 — the MOSS parameters both winnow queries use): the
    * per-doc fingerprint profile and the near-dup pair join start from
    * the same O(total characters) rolling-hash + window-min pass, so it
    * is memoized per sf dir like the shingle index. (It CANNOT share the
    * ShingleIndex itself: winnowing is character-level positional —
    * every occurrence, window minima over the position sequence — while
    * the shingle index holds word-gram SET ranks; see SCALE.md.) */
  private def docWinnowFingerprints(s: SparkSession, d: String): DataFrame =
    memoDf(s, d, "winnow_fp")(
      TextOps.winnowFingerprints(t(s, d, "documents"), "doc_id", "text",
        k = 8, w = 16).persist())

  /** Seed-classifier SCORED frame (multinomial NB trained on even-id
    * docs, scoring odd-id docs on `source`) — memoized per sf dir: the
    * classify / confusion / threshold-sweep family reads ONE persisted
    * scored table instead of retraining and rescoring per query (a
    * curation pipeline trains its router once per seed refresh and every
    * eval readout consumes the same scores). */
  private def nbScored(s: SparkSession, d: String): DataFrame =
    memoDf(s, d, "nb_scored") {
      val docs = t(s, d, "documents")
      ClassifyOps.nbClassify(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "source")
        .persist()
    }

  /** BM25 self-retrieval HITS (each doc queried by its own first 5
    * words, k=10, self-matches only) — memoized per sf dir: the MRR and
    * nDCG readouts are two aggregations of the same retrieval run. */
  private def selfRetrievalHits(s: SparkSession, d: String): DataFrame =
    memoDf(s, d, "self_hits") {
      val docs = t(s, d, "documents")
      TextOps.bm25BatchTopK(docs, "doc_id", "text",
          selfRetrievalQueries(s, d), k = 10)
        .filter(col("doc_id") === col("qid"))
        .persist()
    }
  /** The self-retrieval query-term frame (first 5 distinct words of the
    * first 20 docs) — tiny; shared by the hits build and the per-query
    * denominators. */
  private def selfRetrievalQueries(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .filter(col("text").isNotNull && col("doc_id") < 20)
      .select(col("doc_id").as("qid"),
        explode(array_distinct(slice(TextOps.tokens(col("text")), 1, 5)))
          .as("term"))

  /** Trained ANN model artifacts over `embeddings` — the 8 coarse IVF
    * centroids and the m=8 × 16-code PQ codebooks — memoized per sf dir
    * (the docShingleIndex economics applied to trained models): a
    * production pipeline trains ONCE per corpus wave, and the whole ANN
    * family (ivf/ivfpq top-k, recall audits, PQ encode/rerank, cell
    * prototypes/outliers/drift, contrastive mining, index-store builds)
    * reads the same trained artifact instead of re-running the seeding
    * and Lloyd jobs per query. Both are bounded MODEL artifacts (8
    * centroid rows / 8×16 subspace codewords), never data — driver-side
    * caching is exactly their documented contract. */
  private def embCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Float])] =
    ArtifactRegistry.memo(s"model:centroids@$d")(
      SimilarityOps.takeCentroids(t(s, d, "embeddings"), "vec_id",
        "embedding", 8))
  private def embPqCodebooks(s: SparkSession, d: String): Seq[Seq[Seq[Float]]] =
    ArtifactRegistry.memo(s"model:pq@$d")(
      SimilarityOps.pqTrainCodebooks(t(s, d, "embeddings"), "vec_id",
        "embedding", m = 8, codes = 16, iters = 2, dim = 64))

  /** Shared [[graft.ops.GraphOps.PreparedGraph]] artifacts — the
    * iterative graph family (PageRank, PPR, k-core, LPA, BFS) all start
    * from the same canonicalize+distinct+double+degree derivation over a
    * given edge fixture, so the artifact is memoized per (sf dir, graph)
    * like the stores: the first graph analysis pays the edge shuffle and
    * cache, every later one reuses the in-memory canonical graph. */
  private def preparedGraph(s: SparkSession, key: String, edges: => DataFrame,
                            src: String, dst: String)
      : graft.ops.GraphOps.PreparedGraph =
    ArtifactRegistry.memo(s"graph:$key", Some(s))(
      graft.ops.GraphOps.prepared(edges, src, dst))

  /** Memoized LABEL-PROPAGATION label frames, keyed (graph key, rounds)
    * — `q_label_prop` and `q_cluster_agreement` each run 3-round LPA
    * over a shared graph, and labelPropagation already returns a
    * materialized (localCheckpoint'd) frame, so the memo just keeps that
    * bounded (node, label) artifact alive across queries and bench
    * passes instead of re-running the rounds (the preparedGraph
    * economics applied to the derived labels). */
  private def lpaLabels(s: SparkSession, key: String,
                        g: => graft.ops.GraphOps.PreparedGraph,
                        rounds: Int): DataFrame =
    memoDf(s, s"$key#lpa$rounds", "lpa_labels")(
      graft.ops.GraphOps.labelPropagation(g, rounds))

  /** Memoized RFM per-customer base aggregate (persisted; ~|customers|
    * rows of 4 narrow columns): the distributed-NTILE kernel reads its
    * input three times (quantile-boundary artifact, exact bucket-count
    * artifact, the ranking pass itself), so the scan+aggregate is paid
    * once per sf dir, not per read. */
  private def rfmBase(s: SparkSession, d: String): DataFrame =
    memoDf(s, d, "rfm_base") {
      val o = t(s, d, "orders")
      val per = o.groupBy("o_custkey").agg(
        max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).as("mon"))
      val mx = o.agg(max(col("o_orderdate")).as("mx"))
      per.crossJoin(broadcast(mx))
        .select(col("o_custkey"),
          datediff(col("mx"), col("last_order")).cast("long")
            .as("recency_days"),
          col("frequency"), col("mon").cast("double").as("monetary"))
        .persist()
    }

  /** Memoized per-order BASKET incidence frame — distinct
    * (order, part, part-category) rows off ONE lineitem⋈part scan,
    * persisted per sf dir: both basket analytics (`q_basket_lift`'s
    * category lift, `q_item_cf_topk`'s item-item cosine) start from
    * the same incidence set, so the scan + join + distinct exchange is
    * paid once and every downstream reference reads the cache (the
    * [[docShingleIndex]] economics; `q_basket_lift` previously rebuilt
    * this frame up to 4× per run — its single-counts, order-total and
    * both self-join sides). (ok, pk) is the distinct key; ptype is
    * functionally dependent on pk (part attribute), so the wider
    * distinct costs the same exchange. */
  private def orderBaskets(s: SparkSession, d: String): DataFrame =
    memoDf(s, d, "baskets") {
      t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
          split(col("p_type"), " ").getItem(0).as("ptype"))
        .distinct().persist()
    }

  /** The (order, category) projection of [[orderBaskets]], distinct and
    * persisted in its own right: `q_basket_lift` reads it four times
    * (single counts, order total, both self-join sides), so the
    * category-level distinct exchange is also paid once. */
  private def orderPtypeBaskets(s: SparkSession, d: String): DataFrame =
    memoDf(s, s"$d#ptype", "baskets")(
      orderBaskets(s, d).select("ok", "ptype").distinct().persist())

  /** The evidence-graph artifact (the dense dup graph the analytics
    * suite runs on). */
  private def evidenceGraph(s: SparkSession, d: String)
      : graft.ops.GraphOps.PreparedGraph = {
    val root = evidenceStore(s, d)
    preparedGraph(s, s"$root#g",
      graft.ext.ClusterStore.pairs(s, root), "id1", "id2")
  }

  /** Persisted BM25 postings index over `documents` (same memoized
    * build-once economics as the cluster stores). */
  private def lexStore(s: SparkSession, d: String): String =
    artifact("lex", d)(p => graft.ext.LexIndexStore.build(p,
      t(s, d, "documents"), "doc_id", "text", nBuckets = 64))

  /** Persisted IVF index over `embeddings` (8 deterministic centroids —
    * the q_ivf_topk model, store-shaped). */
  private def annStore(s: SparkSession, d: String): String =
    artifact("ann", d) { p =>
      val emb = t(s, d, "embeddings")
      graft.ext.AnnIndexStore.save(p, emb, "vec_id", "embedding",
        embCentroids(s, d))
    }

  /** Persisted IVF+PQ (IVFADC) index — the annStore centroids plus
    * trained codebooks, codes materialized at write. */
  private def annPqStore(s: SparkSession, d: String): String =
    artifact("annpq", d) { p =>
      val emb = t(s, d, "embeddings")
      graft.ext.AnnIndexStore.save(p, emb, "vec_id", "embedding",
        embCentroids(s, d),
        embPqCodebooks(s, d))
    }

  /** Flagship: the full reference pipeline (extract→transform→load→QC→
    * reconcile) on sf0.001, returning its 1-row summary. Driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val work = java.nio.file.Files
      .createTempDirectory("graft_entry_").toString
    val r = graft.pipeline.Pipeline.run(
      spark, "/root/testdata/sf0.001",
      start = "2024-01-05 00:00:00", end = "2024-01-20 00:00:00",
      runId = "entry_run", workDir = work)
    Seq((r.runId, r.extracted, r.loaded, r.reconciled, r.qc.getOrElse("n_rows", 0L)))
      .toDF("run_id", "src_count", "dst_count", "reconciled", "mart_rows")
  }

  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- reference operators (SURVEY.md §2.1) --------------------------------

    // O1-O4: scan + projection + half-open window filter + multi-key sort
    "q_window_filter_extract" -> ((s, d) =>
      CoreOps.windowedExtract(t(s, d, "events"),
        projectCols = Seq("event_id", "ts", "user_id", "event_type"),
        tsCols = Seq("ts"),
        start = "2024-01-05 00:00:00", end = "2024-01-20 00:00:00",
        sortKeys = Seq("ts", "event_id"))),

    // O2: projection
    "q_projection" -> ((s, d) =>
      t(s, d, "events").select("event_id", "user_id", "value")
        .orderBy("event_id")),

    // O4: multi-key sort with limit
    "q_multikey_sort" -> ((s, d) =>
      t(s, d, "events").select("event_id", "user_id", "ts")
        .orderBy(col("user_id").asc, col("ts").desc, col("event_id").asc)
        .limit(100)),

    // O6+O7: schema alignment (name normalization + cast + missing-as-null)
    "q_schema_normalize" -> ((s, d) => {
      val messy = t(s, d, "events")
        .select(col("event_id").as(" Event ID "), col("event_type").as("EVENT TYPE"),
          col("ts").as("Ts"))
      CoreOps.alignSchema(messy, StructType(Seq(
        StructField("event_id", LongType), StructField("event_type", StringType),
        StructField("ts", TimestampType), StructField("missing_col", StringType))))
        .orderBy("event_id")
    }),

    // O6: key cast (ObjectId→string analog)
    "q_key_cast" -> ((s, d) =>
      t(s, d, "events")
        .select(col("event_id").cast(StringType).as("_id"), col("event_type"))
        .orderBy("_id")),

    // O9: timestamp parse with null-on-failure coercion
    "q_ts_parse_coerce" -> ((s, d) =>
      t(s, d, "events").select(
        col("event_id"),
        to_timestamp(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("ts_parsed"),
        expr("try_to_timestamp(event_type)").as("ts_bad"))
        .orderBy("event_id")),

    // O14: JSON scalar extraction (JSONB ->> analog)
    "q_json_extract" -> ((s, d) =>
      CoreOps.flattenJson(t(s, d, "events"), "props", Seq("k"))
        .select("event_id", "props_k").orderBy("event_id")),

    // O14 typed: from_json struct flatten
    "q_json_typed_flatten" -> ((s, d) =>
      CoreOps.flattenJsonTyped(t(s, d, "events"), "props",
        StructType(Seq(StructField("k", LongType))))
        .select("event_id", "props_k").orderBy("event_id")),

    // O11: lineage tag
    "q_lineage_tag" -> ((s, d) =>
      CoreOps.tagRun(t(s, d, "events"), "run_2024_01_demo")
        .select("event_id", "run_id").orderBy("event_id")),

    // O15: run-scoped selection (equality filter)
    "q_staging_filter" -> ((s, d) =>
      t(s, d, "events").filter(col("event_type") === "purchase")
        .select("event_id", "event_type", "value").orderBy("event_id")),

    // O16 core: latest-version-per-key dedup
    "q_dedup_latest" -> ((s, d) =>
      CoreOps.dedupLatest(t(s, d, "events"), "user_id", "ts", "event_id")
        .select("user_id", "event_id", "ts").orderBy("user_id")),

    // exact dedup on a composite key
    "q_dedup_exact_key" -> ((s, d) =>
      CoreOps.dedupExact(t(s, d, "events"), Seq("user_id", "event_type"), "event_id")
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")),

    // O16: keyed upsert with PARTIAL update set (value, props only)
    "q_upsert_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      val target = ev.filter(col("event_id") % 4 =!= 0)
      val updates = ev.filter(col("event_id") % 2 === 0)
        .withColumn("value", col("value") + lit(1000.0))
      CoreOps.upsert(target, updates, "event_id", Seq("value", "props"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .orderBy("event_id")
    }),

    // O18+O19: QC report (freshness/type/regex/unique/not-null, single pass)
    "q_qc_profile" -> ((s, d) =>
      QualityCheck.report(t(s, d, "events"), Seq(
        QualityCheck.NotNull("event_id"),
        QualityCheck.Unique("event_id"),
        QualityCheck.Regex("event_type", "^[a-z]+$"),
        QualityCheck.ValidType("props", "string"),
        QualityCheck.Freshness("ts", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))),

    // O19 extension: row-level quarantine (side-output pattern): tag each
    // row with the first violated row-expressible rule instead of failing
    // the whole run; counts per reason ('pass' = clean)
    "q_qc_quarantine" -> ((s, d) =>
      QualityCheck.quarantine(t(s, d, "events"), Seq(
        QualityCheck.Predicate("value_le_250", col("value") <= 250),
        QualityCheck.Predicate("user_id_lt_900", col("user_id") < 900),
        QualityCheck.NotNull("props")))
        .groupBy(coalesce(col("qc_fail_reason"), lit("pass")).as("reason"))
        .agg(count(lit(1)).as("n"))
        .orderBy("reason")),

    // O19 extension: referential-integrity QC (orphaned foreign keys)
    "q_qc_fk_orphans" -> ((s, d) =>
      QualityCheck.referentialIntegrity(
        t(s, d, "orders"), "o_custkey",
        t(s, d, "customer").filter(col("c_acctbal") >= 0), "c_custkey")),

    // O20-O22: count reconciliation src vs dst
    "q_count_reconcile" -> ((s, d) => {
      val ev = t(s, d, "events")
      val pred = CoreOps.windowPredicate(Seq("ts"),
        "2024-01-05 00:00:00", "2024-01-20 00:00:00")
      CoreOps.reconcile(ev.filter(pred), ev.filter(pred).select("event_id").distinct())
    }),

    // ---- generic relational surface (SURVEY.md §2.2, TPC-H-style) -----------

    // groupBy/agg with exact decimal sums (TPC-H Q1 shape)
    "q1_pricing_summary" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))))
            .cast("double").as("sum_disc_price"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))) *
            (lit(1).cast(DecimalType(8, 4)) + col("l_tax").cast(DecimalType(8, 4))))
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(12, 2))).cast("double") /
            count(lit(1))).as("avg_qty"),
          (sum(col("l_extendedprice").cast(DecimalType(12, 2))).cast("double") /
            count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast(DecimalType(8, 4))).cast("double") /
            count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // 3-way join + agg + top-k (TPC-H Q3 shape); dim side broadcast
    "q3_top_revenue_orders" -> ((s, d) => {
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1996-01-01 00:00:00").cast(TimestampType))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // 6-way star join through region→nation→(customer,supplier) (Q5 shape)
    "q5_local_supplier_volume" -> ((s, d) => {
      val region = t(s, d, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, d, "nation")
      val cust = t(s, d, "customer")
      val supp = t(s, d, "supplier")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
                col("o_orderdate") < lit("1998-01-01 00:00:00").cast(TimestampType))
      val li = t(s, d, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // pure filter + scalar aggregate (TPC-H Q6 forecast-revenue shape):
    // everything pushes to the scan, one partial+final agg, no join
    "q6_forecast_revenue" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast(TimestampType) &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          col("l_discount").cast(DecimalType(8, 4)))
          .cast("double").as("revenue"),
          count(lit(1)).as("n"))),

    // top supplier(s) by revenue (TPC-H Q15 shape): agg view + max via window
    "q15_top_supplier" -> ((s, d) => {
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
          col("l_shipdate") < lit("1996-07-01 00:00:00").cast(TimestampType))
        .groupBy("l_suppkey")
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))))
          .cast("double").as("total_revenue"))
      // global max as a 1-row broadcast (the q22 scalar-subquery shape) —
      // an empty-partition window here would funnel the whole supplier
      // aggregate through ONE task at scale
      rev.crossJoin(broadcast(rev.agg(max(col("total_revenue"))
          .as("max_rev"))))
        .filter(col("total_revenue") === col("max_rev"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    // nation-pair trade volume by year (TPC-H Q7 shape): two roles of the
    // same dimension (supplier nation vs customer nation), broadcast twice
    "q7_nation_trade" -> ((s, d) => {
      val n1 = t(s, d, "nation").select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = t(s, d, "nation").select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") < col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).cast(LongType).as("yr"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))))
          .cast("double").as("volume"))
        .filter(col("volume") > 1000000)
        .orderBy("supp_nation", "cust_nation", "yr")
    }),

    // market-share ratio per year (TPC-H Q8 shape): conditional numerator
    // over total, grouped by year
    "q8_market_share" -> ((s, d) => {
      val discPrice = col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4)))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"))
        .agg(round(
          sum(when(col("n_name") === "CHINA", discPrice)
            .otherwise(lit(0).cast(DecimalType(20, 6)))).cast("double") /
            sum(discPrice).cast("double"), 6).as("mkt_share"))
        .orderBy("yr")
    }),

    // top returned-revenue customers (TPC-H Q10 shape)
    "q10_returned_items" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_returnflag") === "R")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),

    // distinct-supplier counts with NOT IN exclusion (TPC-H Q16 shape)
    "q16_supplier_cnt" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#1" && col("p_size").isin(1, 5, 9, 13))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)),

    // big-order detection via IN-subquery-with-HAVING (TPC-H Q18 shape)
    "q18_large_orders" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(dsum(col("l_quantity"), 18, 2).as("total_qty"))
        .filter(col("total_qty") > 150)
      t(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "total_qty")
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(50)
    }),

    // disjunctive multi-range predicate (TPC-H Q19 shape)
    "q19_disjunctive" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(5, 20) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(15, 40) &&
            col("l_quantity").between(20, 35)))
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n"))),

    // dormant rich customers: scalar subquery + NOT EXISTS (TPC-H Q22 shape)
    "q22_dormant_customers" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("ab"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal"), 18, 2).as("totacctbal"))
        .orderBy("c_mktsegment")
    }),

    // correlated scalar subquery in WHERE: cheapest part per type
    // (TPC-H Q2 shape — min within a correlated group; no partsupp fixture,
    // so the correlation runs on part itself)
    "q2_min_price_part" -> ((s, d) => sqlq(s, d, Seq("part"),
      """SELECT p_partkey, p_name, p_type, p_retailprice
         FROM part p
         WHERE p_size <= 15
           AND p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                                WHERE p2.p_type = p.p_type AND p2.p_size <= 15)
         ORDER BY p_type, p_partkey""")),

    // five-table join + groupBy nation/year (TPC-H Q9 shape; profit without
    // the partsupp supplycost term — fixture has no partsupp)
    "q9_product_profit" -> ((s, d) =>
      sqlq(s, d, Seq("lineitem", "supplier", "part", "orders", "nation"),
      """SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS profit
         FROM lineitem
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN part ON p_partkey = l_partkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN nation ON n_nationkey = s_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2
         ORDER BY nation ASC, o_year DESC""")),

    // HAVING against a scalar subquery of the global aggregate
    // (TPC-H Q11 shape: keep groups above a fraction of the total)
    "q11_supplier_share" -> ((s, d) => sqlq(s, d, Seq("lineitem", "supplier"),
      """SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
         WHERE s_nationkey < 8
         GROUP BY l_suppkey
         HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) >
                (SELECT CAST(0.02 AS DECIMAL(8,4)) * SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                 FROM lineitem JOIN supplier ON s_suppkey = l_suppkey WHERE s_nationkey < 8)
         ORDER BY total_value DESC, l_suppkey ASC""")),

    // nested semi joins + correlated scalar aggregate in the inner WHERE
    // (TPC-H Q20 shape; `shipped` plays partsupp's role — fixture has none)
    "q20_volume_shippers" -> ((s, d) =>
      sqlq(s, d, Seq("lineitem", "supplier", "part", "nation"),
      """WITH shipped AS (
           SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
           FROM lineitem GROUP BY l_suppkey, l_partkey)
         SELECT s_suppkey, s_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
           AND s_suppkey IN (
             SELECT sh.l_suppkey FROM shipped sh
             WHERE sh.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
               AND sh.qty > CAST(0.1 AS DECIMAL(4,3)) *
                   (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) FROM lineitem l2
                    WHERE l2.l_partkey = sh.l_partkey))
         ORDER BY s_suppkey""")),

    // EXISTS + NOT EXISTS multi-level anti/semi join (TPC-H Q21 shape:
    // the only supplier late on a multi-supplier order; lateness is
    // shipdate > orderdate + 60 days — fixture has no commit/receipt dates)
    "q21_waiting_suppliers" -> ((s, d) =>
      sqlq(s, d, Seq("lineitem", "supplier", "orders", "nation"),
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN nation ON n_nationkey = s_nationkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o3.o_orderdate + INTERVAL '60' DAY)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name ASC""")),

    // window function: top-2 orders per customer
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // explicit cross join (dimension cartesian)
    "q_cross_join" -> ((s, d) =>
      t(s, d, "region").crossJoin(t(s, d, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy("r_name", "n_name")),

    // pagination: sort + offset + limit
    "q_limit_offset" -> ((s, d) =>
      t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(100).limit(10)),

    // top-k by sort+limit
    "q_topk_limit" -> ((s, d) =>
      t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(20)),

    // set op: union + distinct
    "q_union_distinct" -> ((s, d) =>
      t(s, d, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
        .union(t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("custkey")))
        .distinct().orderBy("custkey")),

    // semi join (EXISTS)
    "q_semi_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    // anti join (NOT EXISTS): customers with no URGENT order
    "q_anti_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    // rollup grouping sets
    "q_rollup_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)),

    // multiple exact distinct aggregates
    "q_agg_distinct" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")),

    // streaming-analog SLIDING window aggregation (batch form): 2-day
    // windows sliding by 1 day — every event lands in exactly 2 windows
    "q_events_sliding_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
        .orderBy("ws", "event_type")),

    // streaming-analog tumbling window aggregation (batch form)
    "q_events_tumbling_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 18, 2).as("total_value"))
        .orderBy("day", "event_type")),

    // per-group freshness (QC freshness generalized)
    "q_freshness_by_type" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(max(col("ts")).as("max_ts"), min(col("ts")).as("min_ts"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // ---- [EXT] text analysis -------------------------------------------------

    "q_text_stats" -> ((s, d) =>
      TextOps.textStats(t(s, d, "documents"), "doc_id", "text")
        .withColumn("n_tokens", col("n_tokens").cast(LongType))
        .withColumn("n_chars_m", col("n_chars_m").cast(LongType))
        .withColumn("n_subwords", col("n_subwords").cast(LongType))
        .orderBy("doc_id")),

    "q_word_frequency" -> ((s, d) =>
      TextOps.wordFrequency(t(s, d, "documents"), "text")
        .orderBy(col("n").desc, col("word").asc).limit(20)),

    // approximate heavy hitters: Misra-Gries candidates + count-min-sketch
    // counts — never exact-shuffles the token universe. At sketch width
    // 2/eps ≫ vocabulary the CMS estimates are exact (an estimate deviates
    // only if the word collides in EVERY sketch row), so the oracle is the
    // exact top-k — a full hash-match gate on the approximate plan.
    "q_approx_top_words" -> ((s, d) =>
      TextOps.approxTopKWords(t(s, d, "documents"), "text", k = 20)
        .orderBy(col("n_est").desc, col("word").asc)),

    // BM25 full-text retrieval: postings filtered to the query terms
    // before anything wide; df/corpus stats broadcast; top-k, not a sort
    "q_bm25_topk" -> ((s, d) =>
      TextOps.bm25TopK(t(s, d, "documents"), "doc_id", "text",
        terms = Seq("dup", "join", "hash"), k = 20)
        .orderBy(col("bm25").desc, col("doc_id").asc)),

    "q_quality_score" -> ((s, d) =>
      TextOps.qualityFeatures(t(s, d, "documents"), "text")
        .select(col("doc_id"), col("n_tokens").cast(LongType).as("n_tokens"),
          col("n_stopwords").cast(LongType).as("n_stopwords"),
          col("stopword_ratio"), col("avg_token_len"))
        .orderBy("doc_id")),

    // Gopher-rules quality gate: every rule's verdict + the conjunction —
    // pipelines audit WHICH rule killed a doc; pure per-row projection
    "q_gopher_filter" -> ((s, d) =>
      TextOps.gopherFilter(t(s, d, "documents"), "doc_id", "text",
        minTokens = 20, maxTokens = 80, minStopHits = 2)
        .orderBy("doc_id")),

    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // the lang-ID heuristic's confusion matrix against the labeled
    // fixture — which languages it mistakes for which (the eval face,
    // like q_knn_confusion / q_nb_confusion)
    "q_langid_confusion" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang").as("true_lang"),
          TextOps.langIdHeuristic(col("text")).as("predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "predicted_lang")),

    // ---- [EXT] dedup ---------------------------------------------------------

    "q_dedup_exact_content" -> ((s, d) =>
      DedupOps.dedupExactByContent(t(s, d, "documents"), "doc_id", "text")
        .select("fingerprint", "keep_id", "n_dups").orderBy("keep_id")),

    "q_ngram_jaccard_pairs" -> ((s, d) =>
      DedupOps.jaccardPairs(docShingleIndex(s, d), threshold = 0.5)
        .orderBy("id1", "id2")),

    // prefix-filtered set-similarity join (AllPairs/PPJoin): identical
    // output to the inverted-index form, indexing only ~(1-t) of shingles
    "q_jaccard_prefix" -> ((s, d) =>
      DedupOps.jaccardPairsPrefix(docShingleIndex(s, d), threshold = 0.8)
        .orderBy("id1", "id2")),

    // asymmetric containment pairs (quote/subset detection — high when a
    // short doc is wholly inside a long one even though Jaccard is tiny)
    "q_containment_pairs" -> ((s, d) =>
      DedupOps.containmentPairs(docShingleIndex(s, d), threshold = 0.5)
        .orderBy("id_sub", "id_super")),

    // URL canonicalization + URL-keyed dedup — the cheapest dedup tier of
    // a web corpus (needs no content at all): scheme/case/default-port/
    // www./tracking-param/param-order/trailing-slash variants collapse to
    // one canonical key, which then groups. Canonicalization is a pure
    // zero-shuffle column chain (UrlOps); the only shuffle is the final
    // key groupBy. Fixture URLs are synthesized deterministically from
    // doc_id (4 messy variants per page; the oracle builds the identical
    // strings and replays the identical surgery).
    "q_url_canonicalize" -> ((s, d) => {
      val k = expr("doc_id div 4").cast(StringType)
      val host = concat(lit("h"), expr("(doc_id div 4) % 20").cast(StringType))
      val raw = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("https://WWW."), host, lit(".Example.COM/articles/"),
            k, lit("/?utm_source=rss&ref=tw&b=2&a=1#top")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("HTTPS://"), host, lit(".EXAMPLE.com:443/articles/"), k))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://"), host, lit(".example.com/articles/"),
            k, lit("?a=1&b=2")))
        .otherwise(
          concat(lit("http://"), host, lit(".example.com:80/articles/"),
            k, lit("/")))
        .as("url"))
      raw
        .select(col("doc_id"),
          graft.ext.UrlOps.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keep_id"))
        .orderBy("keep_id")
    }),

    // the custom DataSource V2 document connector — format("graft-docs"),
    // SupportsPushDownFilters + SupportsPushDownRequiredColumns over
    // JSON-lines: the reference's server-side find(query, projection)
    // seam (DAG:94-132) made executable. The filter and the projection
    // are evaluated INSIDE the custom scan (plan-asserted in
    // DocsConnectorSpec: no post-scan Filter node, pruned ReadSchema);
    // the oracle reads the same rows straight from parquet
    "q_docstore_scan" -> ((s, d) =>
      s.read.format("graft-docs")
        .option("path", docsJsonStore(s, d))
        .option("schema",
          "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .load()
        .filter(col("doc_id") >= 100 && col("n_chars") >= 200)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "source")),

    // sliding-window chunking (RAG indexing / context packing): pure
    // per-row explode, zero shuffle; overlap factor chunk/stride = 2×
    "q_chunk_docs" -> ((s, d) =>
      TextOps.chunkDocuments(t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 16, stride = 8)
        .orderBy("doc_id", "chunk_id")),

    // corpus-unigram LM scoring (KenLM-perplexity quality-filter analog):
    // the only token-universe shuffle is the vocab count; text never moves
    "q_unigram_logprob" -> ((s, d) =>
      TextOps.unigramLogProbs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // corpus-bigram conditional LM scoring (one order above
    // q_unigram_logprob): unsmoothed exact-integer ratios, text never moves
    "q_bigram_logprob" -> ((s, d) =>
      TextOps.bigramLogProbs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // CCNet perplexity buckets: per-LANGUAGE head/middle/tail terciles of
    // bigram-LM fit — the per-stratum rank rides the emitted 6dp score so
    // rank and display can never disagree across engines
    "q_perplexity_buckets" -> ((s, d) =>
      TextOps.perplexityBuckets(t(s, d, "documents"), "doc_id", "text",
        "lang")
        .orderBy("doc_id")),

    // blocklist phrase gate: which ban-list phrases hit each doc (the
    // audit needs the reason, not just the verdict) — zero shuffle
    "q_blocklist_filter" -> ((s, d) =>
      TextOps.blocklistFilter(t(s, d, "documents"), "doc_id", "text",
        phrases = Seq("slow scan", "spark", "vector"))
        .orderBy("doc_id")),

    // the same gate on the Aho-Corasick automaton expression: ONE pass
    // over the text bytes regardless of phrase count (spec-proven
    // output-identical to the literal fold; thousands-of-phrases form)
    "q_blocklist_filter_ac" -> ((s, d) =>
      TextOps.blocklistFilterAC(t(s, d, "documents"), "doc_id", "text",
        phrases = Seq("slow scan", "spark", "vector"))
        .orderBy("doc_id")),

    // code-switching detector: per-segment language ID → per-doc label
    // mix, dominant language + fraction — zero-shuffle per-row folds
    "q_lang_mix_segments" -> ((s, d) =>
      TextOps.langMixBySegment(t(s, d, "documents"), "doc_id", "text",
        segWords = 10)
        .orderBy("doc_id")),

    // character-entropy quality signal: random blobs high, repeated spam
    // near 0 — per-row sorted-distinct decimal fold, zero shuffle
    "q_char_entropy" -> ((s, d) =>
      TextOps.charEntropy(t(s, d, "documents").filter(col("doc_id") < 100),
        "doc_id", "text")
        .orderBy("doc_id")),

    // near-dup degree distribution: how many docs have 0, 1, 2… dup
    // partners — the corpus-health histogram behind dedup planning
    "q_dup_degree_hist" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = DedupOps.minhashDedupPairs(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.4, maxBandDf = 50)
      val deg = pairs.select(col("id1").as("id"))
        .unionAll(pairs.select(col("id2").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
      docs.select(col("doc_id").cast(LongType).as("id"))
        .join(deg, Seq("id"), "left_outer")
        .select(coalesce(col("degree"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_docs"))
        .orderBy("degree")
    }),

    // batch BM25 retrieval: 20 queries (each doc's first-5-token set)
    // scored in ONE corpus scan; bounded-heap per-query top-3
    // Dirichlet-smoothed query likelihood (Zhai–Lafferty) — the
    // language-modeling member of the classic retrieval trio beside
    // BM25 and TF-IDF, in the rank-equivalent sparse decomposition
    // (match term ln(1 + tf·|C|/(μ·cf)) + |q|·ln(μ/(dl+μ))); same query
    // fixture as q_bm25_batch so the two scorers are comparable
    "q_lm_dirichlet" -> ((s, d) =>
      TextOps.lmDirichletTopK(t(s, d, "documents"), "doc_id", "text",
          selfRetrievalQueries(s, d), k = 3, mu = 50.0)
        .orderBy("qid", "rnk")),

    "q_bm25_batch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val qt = docs.filter(col("text").isNotNull && col("doc_id") < 20)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(slice(TextOps.tokens(col("text")), 1, 5)))
            .as("term"))
      TextOps.bm25BatchTopK(docs, "doc_id", "text", qt, k = 3)
        .orderBy("qid", "rnk")
    }),

    // the same retrieval against the PERSISTED postings index
    // (LexIndexStore): corpus tokenized once into tb=-bucketed postings,
    // each query batch reads only its terms' buckets (directory pruning —
    // the lexical analog of the ANN store's cell pruning); results are
    // bit-identical to q_bm25_batch by construction, so the full-hash
    // oracle is shared
    "q_bm25_index_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val qt = docs.filter(col("text").isNotNull && col("doc_id") < 20)
        .select(col("doc_id").as("qid"),
          explode(array_distinct(slice(TextOps.tokens(col("text")), 1, 5)))
            .as("term"))
      graft.ext.LexIndexStore.topK(s, lexStore(s, d), qt, k = 3)
        .orderBy("qid", "rnk")
    }),

    // self-retrieval MRR: can each doc retrieve ITSELF from its own first
    // 5 words — the retrievability sanity eval for the BM25 index
    "q_self_retrieval_mrr" -> ((s, d) => {
      val dec = DecimalType(18, 6)
      // hits shared with q_ndcg_self — same retrieval run, two readouts
      val hits = selfRetrievalHits(s, d)
      val nq = selfRetrievalQueries(s, d).select("qid").distinct()
        .agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(hits.agg(count(lit(1)).as("n_hit"),
          sum(round(lit(1.0) / col("rnk"), 6).cast(dec)).as("__rr")))
        .select(col("n_queries"), col("n_hit"),
          coalesce(round(col("__rr").cast("double") / col("n_queries"), 6),
            lit(0.0)).as("mrr"))
    }),

    // signed feature hashing (the hashing trick): text → sparse fixed-dim
    // count vectors with NO vocabulary pass — zero-shuffle per-row folds
    "q_feature_hashing" -> ((s, d) =>
      TextOps.featureHashVector(t(s, d, "documents"), "doc_id", "text",
        dim = 16)
        .orderBy("doc_id", "bin")),

    // cross-source duplication matrix: which sources copy from which —
    // near-dup pairs annotated by (source, source), unordered-normalized
    "q_cross_source_dups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      DedupOps.minhashDedupPairs(docs, "doc_id", "text",
          n = 3, numHashes = 16, bands = 4, threshold = 0.4, maxBandDf = 50)
        .join(src.withColumnsRenamed(Map("doc_id" -> "id1", "source" -> "s1")), "id1")
        .join(src.withColumnsRenamed(Map("doc_id" -> "id2", "source" -> "s2")), "id2")
        .select(least(col("s1"), col("s2")).as("source_a"),
          greatest(col("s1"), col("s2")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),

    // interpolated Kneser-Ney bigram scoring (the KenLM smoothing): absolute
    // discount + continuation-count unigram backoff, all integer-derived
    "q_kneser_ney" -> ((s, d) =>
      TextOps.knLogProbs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // seed-classifier routing (fasttext-shaped): multinomial NB trained on
    // even-id docs (label = source), scoring odd-id docs — decimal-summed
    // posteriors so argmax and margin are bit-identical across engines
    "q_nb_classify" -> ((s, d) =>
      nbScored(s, d).orderBy("doc_id")),

    // the classifier's eval artifact: held-out confusion matrix
    "q_nb_confusion" -> ((s, d) =>
      ClassifyOps.nbConfusion(nbScored(s, d))
        .orderBy("actual", "predicted")),

    // selective-classification calibration: routed volume + accuracy at
    // each candidate margin threshold — the operating-point table
    "q_nb_threshold_sweep" -> ((s, d) =>
      ClassifyOps.nbThresholdSweep(nbScored(s, d),
        thresholds = Seq(0.0, 0.5, 1.0, 2.0, 4.0, 8.0))
        .orderBy("threshold")),

    // per-domain curation scorecard: gopher keep rate + token volume per
    // source — the crawl-health report per-domain cleaning starts from
    "q_domain_scorecard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.gopherFilter(docs, "doc_id", "text",
          minTokens = 20, maxTokens = 80, minStopHits = 2)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
          round(sum(when(col("keep"), 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("keep_rate"),
          round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
            .as("avg_tokens"))
        .orderBy("source")
    }),

    // corpus collocations by pointwise mutual information — phrase mining:
    // top bigrams whose parts co-occur far above chance
    "q_pmi_collocations" -> ((s, d) =>
      TextOps.pmiCollocations(t(s, d, "documents"), "doc_id", "text",
          minCount = 3L, k = 30)
        .orderBy(col("pmi").desc, col("bg").asc)),

    // token frequency spectrum (count-of-counts, the Zipf diagnostic):
    // how many distinct tokens occur exactly f times, lowest 20 f values
    "q_token_spectrum" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("freq"))
        .groupBy("freq").agg(count(lit(1)).as("n_tokens"))
        .orderBy("freq")
        .limit(20)),

    // CCNet-style segment-level dedup: drop 3-word segments shared by > 2
    // docs; counts shuffle 16-byte fingerprints, text shuffles exactly once
    "q_segment_dedup" -> ((s, d) =>
      DedupOps.segmentDedup(t(s, d, "documents"), "doc_id", "text",
        segWords = 3, maxDocs = 2)
        .orderBy("doc_id")),

    // ExactSubstr span dedup (Lee et al.): maximal cross-doc duplicated
    // 4-gram spans; gram hashes ride ONE pinned exchange, text never moves
    "q_dup_spans" -> ((s, d) =>
      DedupOps.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        n = 4, minDf = 2)
        .orderBy("doc_id", "span_start")),

    // duplicated-token ratio per doc (the trim/drop gate over q_dup_spans):
    // clean docs surface with ratio 0 via the left join
    "q_dup_ratio" -> ((s, d) =>
      DedupOps.dupTokenRatio(t(s, d, "documents"), "doc_id", "text",
        n = 4, minDf = 2)
        .orderBy("doc_id")),

    // distinct-n diversity per language: the fraction of unigram/bigram
    // occurrences that are distinct types — template corpora and
    // mode-collapsed generations drive the ratios toward 0
    "q_distinct_ngrams" -> ((s, d) =>
      TextOps.ngramDiversity(t(s, d, "documents"), "text", Seq("lang"))
        .orderBy("lang")),

    // Zipf slope: OLS fit of ln(freq) on ln(rank) over the top-200 head —
    // natural corpora sit near −1; template/spam corpora flatten. Decimal
    // sums make the fit bit-identical across engines
    "q_zipf_slope" -> ((s, d) => {
      val dec = DecimalType(28, 6)
      val vocab = t(s, d, "documents").filter(col("text").isNotNull)
        .select(explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("t").asc).limit(200)
      val ranked = vocab.withColumn("r",
        // unpartitioned window BOUND: post-limit(200) vocabulary head
        row_number().over(Window.orderBy(col("freq").desc, col("t").asc))
          .cast("long"))
      val sums = ranked.select(
          round(log(col("r").cast("double")), 6).cast(dec).as("x"),
          round(log(col("freq").cast("double")), 6).cast(dec).as("y"))
        .agg(count(lit(1)).cast("long").as("n_terms"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      sums.select(col("n_terms"),
        round((col("n_terms") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_terms") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("slope"))
    }),

    // normalize-then-dedup: case/whitespace variants collapse to one kept
    // doc — the standard exact-dedup KEY (raw-byte hashing misses these)
    "q_normalized_dedup" -> ((s, d) => {
      val base = t(s, d, "documents")
        .filter(col("text").isNotNull && col("doc_id") < 50)
        .select(col("doc_id"), col("text"))
      val variants = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("  ")).as("text"))
      base.unionByName(variants)
        .select(col("doc_id"), TextOps.normalizeText(col("text")).as("__n"))
        .groupBy(md5(col("__n")).as("__fp"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_variants"))
        .select("keep_id", "n_variants")
        .orderBy("keep_id")
    }),

    // MOSS-tier winnowing pairs: docs sharing >= 10 winnowed char-8-gram
    // fingerprints — catches copied passages whole-doc Jaccard dilutes
    "q_winnow_pairs" -> ((s, d) =>
      DedupOps.winnowNearDupPairs(docWinnowFingerprints(s, d), "doc_id",
        minShared = 10, maxFpDf = 20)
        .orderBy("id1", "id2")),

    // APPLY the ExactSubstr cut: remove duplicated-span tokens, reassemble
    // the rest; spans ride a small array column, text moves once
    "q_cut_spans" -> ((s, d) =>
      DedupOps.cutDupSpans(t(s, d, "documents"), "doc_id", "text",
        n = 4, minDf = 2)
        .orderBy("doc_id")),

    // per-SOURCE boilerplate mining (CCNet per-domain template report):
    // segments repeating across >=3 docs of one source; one shuffle keyed
    // (source, segment fingerprint), representative text rides min()
    "q_boilerplate_by_source" -> ((s, d) =>
      DedupOps.boilerplateBySource(t(s, d, "documents"), "doc_id", "text",
        "source", segWords = 3, minDocs = 3)
        .orderBy("source", "seg")),

    // per-doc top-3 terms by tf-idf (keyword extraction): df falls out of
    // the tf aggregate, N rides a 1-row broadcast, per-doc rank window
    "q_tfidf_topterms" -> ((s, d) =>
      TextOps.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),

    // dataset-card corpus report: per-language doc/token/char totals
    "q_corpus_stats" -> ((s, d) =>
      t(s, d, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(TextOps.tokenCount(col("text")).cast(LongType)).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang")),

    // keep-BEST-per-cluster dedup: same dup graph as q_dedup_clusters, but
    // the longest (n_chars) member of each transitive cluster survives —
    // labels read from the persisted ClusterStore, not re-clustered
    "q_dedup_keep_best" -> ((s, d) =>
      DedupOps.keepBestByAssignment(t(s, d, "documents"), "doc_id", "n_chars",
          graft.ext.ClusterStore.assignment(s, chainStore(s, d)))
        .select("doc_id", "n_chars", "n_members")
        .orderBy("doc_id")),

    // corpus top-20 bigrams via the native WordGrams kernel (codegen'd
    // per-row n-gram expression → one (bigram, count) shuffle)
    "q_bigram_top" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      t(s, d, "documents")
        .select(explode(call_function("graft_word_grams",
          col("text"), lit(2))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    }),

    // INTRA-document segment dedup (self-boilerplate cut): keep the first
    // occurrence of each 3-word segment within a doc — zero shuffle
    "q_intradoc_dedup" -> ((s, d) =>
      TextOps.intraDocDedup(t(s, d, "documents"), "doc_id", "text",
        segWords = 3)
        .orderBy("doc_id")),

    // DSIR-style importance weights: log-likelihood ratio of each doc's
    // tokens under the en-subcorpus LM vs the whole-corpus LM
    "q_importance_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.importanceWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // blocked fuzzy self-join (entity-resolution primitive): DISTINCT part
    // names (exact-dedupe first — the standard ER flow; raw names repeat so
    // raw pairs would be quadratic in the duplicates), blocked on the first
    // word, levenshtein ≤ 3 within the block
    "q_blocked_fuzzy_join" -> ((s, d) => {
      val names = t(s, d, "part").groupBy("p_name")
        .agg(min("p_partkey").as("name_id"))
      DedupOps.blockedFuzzyJoin(names, "name_id", "p_name",
        split(col("p_name"), " ").getItem(0), maxDist = 3)
        .orderBy("id1", "id2")
    }),

    // per-stratum percentile gate: keep the top 30% longest docs per
    // language (per-language cutoffs keep low-resource strata alive)
    "q_percentile_filter" -> ((s, d) =>
      SamplingOps.percentileKeep(t(s, d, "documents"), "lang", "n_chars",
        "doc_id", q = 0.3)
        .select("doc_id", "lang", "n_chars", "pct_rank")
        .orderBy("doc_id")),

    // sort-free approximate percentile gate (the 100 TB path of
    // q_percentile_filter): sketch threshold + filter. Bound-based oracle:
    // DuckDB computes exact per-stratum counts, the keep-fraction
    // tolerance boolean is stipulated (sketch rank error ≤ 1/accuracy)
    "q_percentile_filter_approx" -> ((s, d) => {
      val kept = SamplingOps.percentileKeepApprox(t(s, d, "documents"),
          "lang", "n_chars", q = 0.3, accuracy = 10000)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n"),
          (abs(coalesce(col("n_kept"), lit(0L)) - col("n") * 0.3)
            <= col("n") * 0.05 + 2).as("keep_frac_ok"))
        .orderBy("lang")
    }),

    // SimHash near-dup pairs — banding is pigeonhole-EXACT for
    // hamming ≤ bands−1, so the oracle is the full all-pairs filter
    "q_simhash_near_dups" -> ((s, d) =>
      DedupOps.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text",
        bits = 60, bands = 4, maxHamming = 3)
        .orderBy("id1", "id2")),

    "q_simhash" -> ((s, d) =>
      DedupOps.simhashSignatures(t(s, d, "documents"), "doc_id", "text", bits = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // connected components over a dup-pair graph: pairwise dedup output →
    // transitive clusters (chain edges exercise multi-hop closure; the
    // operator takes any (id1, id2) pair frame, e.g. minhashDedupPairs)
    "q_dedup_clusters" -> ((s, d) =>
      graft.ext.ClusterStore.assignment(s, chainStore(s, d))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"), max(col("id")).as("max_member"))
        .orderBy("cluster_id")),

    // the INCREMENTAL store path under the same oracle: base build from a
    // pair subset + ClusterStore.append of the rest must emit labels
    // row-identical to clustering the full pair set (mergeComponents
    // contract) — so this shares q_dedup_clusters' oracle verbatim
    "q_dedup_clusters_incr" -> ((s, d) =>
      graft.ext.ClusterStore.assignment(s, chainIncrStore(s, d))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"), max(col("id")).as("max_member"))
        .orderBy("cluster_id")),

    // the END-TO-END INGEST WAVE's admission report: quality gate →
    // in-batch near-dup (pair-min) → vs-corpus near-dup via the persisted
    // band index, with all five artifacts (corpus, band index, clusters,
    // ANN, BM25) advancing in lockstep — the oracle replays the three
    // gates; artifact-vs-rebuild equality is IngestWaveSpec's proof
    "q_ingest_wave" -> ((s, d) =>
      s.read.parquet(s"${waveStore(s, d)}/report/wave=1")
        .orderBy("doc_id")),

    // the wave with the SemDeDup gate armed: a fourth disposition —
    // cosine ≥ 0.4 vs any already-admitted embedding (sign-LSH bucket
    // candidates, exact 6dp verify) rejects survivors of the text gates
    "q_ingest_wave_semantic" -> ((s, d) =>
      s.read.parquet(s"${waveSemStore(s, d)}/report/wave=1")
        .orderBy("doc_id")),

    // TWO sequential waves, both reports: wave 2's corpus gate must see
    // base ∪ wave-1 admissions through the accreted band index — the
    // sequencing contract under full oracle replay (shingle/band state is
    // population-independent at cap=∞, so one CTE chain serves both)
    "q_ingest_wave_seq" -> ((s, d) =>
      s.read.parquet(s"${waveSeqStore(s, d)}/report")
        .select(col("doc_id"), col("disposition"),
          col("wave").cast(LongType).as("wave"))
        .orderBy("doc_id")),

    // cluster-level BAN propagation (governance): a seed blocklist of docs
    // expands to every member of any dup cluster touching a seed — the
    // takedown workflow (banning one copy must ban them all)
    "q_cluster_ban" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val clusters = graft.ext.ClusterStore.assignment(s, chainStore(s, d))
      val seeds = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").cast(LongType).as("id"))
      val seedClusters = clusters.join(seeds, "id")
        .select("cluster_id").distinct()
      val viaCluster = clusters.join(seedClusters, Seq("cluster_id"))
        .select("id")
      val banned = viaCluster.unionByName(seeds).distinct()
      banned.join(seeds.withColumn("__s", lit(1)), Seq("id"), "left_outer")
        .select(col("id").as("doc_id"),
          when(col("__s").isNotNull, "seed").otherwise("cluster")
            .as("banned_via"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals: top n-gram share + distinct-token ratio
    "q_repetition_score" -> ((s, d) =>
      TextOps.repetitionScores(t(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")),

    // corpus quality filter: token bounds + minimum distinct-token ratio
    "q_quality_filter" -> ((s, d) =>
      TextOps.qualityFilter(t(s, d, "documents"), "text",
        minTokens = 30, maxTokens = 70, minDistinctRatio = 0.35)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // PII-style redaction (emails/phones → typed tags); the fixture text is
    // synthetic, so deterministic PII is spliced in before redacting
    "q_pii_redact" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.redactPii(concat(
          lit("contact user"), col("doc_id").cast("string"),
          lit("@mail.com or 555-"), col("doc_id").cast("string"),
          lit(" "), substring(col("text"), 1, 40))).as("redacted"))
        .orderBy("doc_id")),

    // canonical text normalization (NFC/lowercase/whitespace-collapse/trim);
    // messy casing + spacing is synthesized so the canonicalization is visible
    "q_text_normalize" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextOps.normalizeText(concat(
          lit("  "), upper(substring(col("text"), 1, 30)),
          lit("   "), substring(col("text"), 31, 20), lit(" ")))
          .as("normalized"))
        .orderBy("doc_id")),

    // deterministic 1/10 hash sample — reproducible, engine-independent,
    // stable under corpus growth (no rand())
    "q_hash_sample" -> ((s, d) =>
      SamplingOps.hashSample(t(s, d, "documents"), "doc_id", k = 10, r = 0)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // test-set decontamination: docs sharing any 3-gram with the "eval"
    // docs (doc_id < 20) are dropped from the training corpus
    "q_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      DedupOps.decontaminate(docs.filter(col("doc_id") >= 20), "doc_id", "text",
        docs.filter(col("doc_id") < 20), "text", n = 3)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),

    // eval-integrity audit: per-eval-doc n-gram leak fraction into the
    // training corpus — corpus grams semi-filter against the broadcast
    // eval gram set before anything wide
    "q_contamination_report" -> ((s, d) => {
      val docs = t(s, d, "documents")
      DedupOps.contaminationReport(docs.filter(col("doc_id") >= 20), "text",
        docs.filter(col("doc_id") < 20), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // deterministic stratified sampling: per-language keep rates (corpus
    // rebalancing — downsample dominant en, keep rare langs whole)
    "q_stratified_sample" -> ((s, d) =>
      SamplingOps.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 10, "de" -> 50))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    // data-mixing weights: target en:de:fr = 2:1:1 over the configured
    // strata (es/zh dropped — a mixing spec is a whitelist); the binding
    // stratum is kept whole, the rest downsample pro rata via
    // integer-arithmetic keep rates the SQL oracle reproduces exactly
    "q_mix_proportions" -> ((s, d) =>
      SamplingOps.mixProportions(t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 2L, "de" -> 1L, "fr" -> 1L))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")),

    // mT5/XLM-R temperature sampling: alpha-smoothed per-language target
    // distribution + the no-upsampling keep rates that realize it — one
    // stratum count agg, two 1-row broadcast artifacts
    "q_temperature_mix" -> ((s, d) =>
      SamplingOps.temperatureMixWeights(t(s, d, "documents"), "lang",
        alpha = 0.5)
        .orderBy("lang")),

    // per-source cap: keep ≤7 docs per source in fingerprint order (the
    // domain-dominance guard). Bounded-heap aggregated — the shuffle
    // carries ≤ strata×7×partitions pairs, never the corpus-wide window —
    // and the oracle is the window form, so the gate proves the heap path
    // row-identical
    "q_source_cap" -> ((s, d) =>
      SamplingOps.capPerStratum(t(s, d, "documents"), "doc_id", "source",
        maxPer = 7)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // token-budget selection: greedy best-quality prefix until the token
    // budget is spent (data mixing under a fixed training budget). Runs
    // the SHARDED variant — the oracle is the exact-window semantics, so
    // the gate itself proves the scalable path row-identical.
    "q_budget_select" -> ((s, d) =>
      SamplingOps.selectByBudgetSharded(
        t(s, d, "documents").filter(col("text").isNotNull)
          .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast(LongType)),
        "doc_id", "n_tokens", "n_chars", budget = 5000L, buckets = 64)
        .select("doc_id", "n_chars", "n_tokens")
        .orderBy("doc_id")),

    // token-budget selection under TRAINED subword accounting: a 6-rule
    // BPE merge table is trained from pair counts of a deterministic
    // half-corpus hash sample in batched (3-per-round) token-disjoint
    // rounds — the production trainer shape: the sample prices the
    // vocabulary build, batching divides the round count — then the
    // budget gate runs on FULL-corpus subword counts; the oracle replays
    // the sampled, batched training via the same flat string-replace scheme
    "q_budget_select_bpe" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val merges = trainedBpeMerges(s, d)
      SamplingOps.selectByBudgetSharded(
        docs.withColumn("n_tokens",
          TextOps.subwordCountBpe(col("text"), merges)),
        "doc_id", "n_tokens", "n_chars", budget = 20000L, buckets = 64)
        .select("doc_id", "n_chars", "n_tokens")
        .orderBy("doc_id")
    }),

    // tokenizer fertility audit: per-language subwords-per-word ratio under
    // the trained merge table — the number that says how much a word-count
    // budget misbills each language
    "q_bpe_fertility" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val merges = trainedBpeMerges(s, d)
      docs.groupBy("lang")
        .agg(sum(TextOps.tokenCount(col("text")).cast(LongType))
            .as("n_words"),
          sum(TextOps.subwordCountBpe(col("text"), merges)).as("n_subwords"))
        .select(col("lang"), col("n_words"), col("n_subwords"),
          round(col("n_subwords").cast("double") / col("n_words"), 6)
            .as("fertility"))
        .orderBy("lang")
    }),

    // curriculum interleave: every language spread evenly through the
    // training order via the (r-0.5)/n lattice key — no all-English prefix
    "q_curriculum_interleave" -> ((s, d) =>
      SamplingOps.curriculumInterleave(t(s, d, "documents"), "doc_id",
        "lang")
        .select("doc_id", "lang", "pos_in_stratum", "interleave_key",
          "global_ord")
        .orderBy("doc_id")),

    // water-filling budget split: max-min-fair per-language char budget —
    // small languages survive whole, the head pays the whole cut
    "q_waterfill_mix" -> ((s, d) =>
      SamplingOps.waterfillAllocation(t(s, d, "documents"), "lang",
        "n_chars", budget = 60000L)
        .orderBy("lang")),

    // dynamic-batching padding audit: power-of-two length buckets with
    // per-bucket pad-token waste — integer comparison chain, no float log2
    "q_length_buckets" -> ((s, d) =>
      SamplingOps.lengthBuckets(t(s, d, "documents"), "text")
        .orderBy("bucket")),

    // estimator-quality audit: MinHash+LSH pairs vs exact Jaccard truth —
    // the recall/precision row that justifies the bands/hashes setting
    "q_lsh_recall_audit" -> ((s, d) =>
      DedupOps.lshRecallAudit(t(s, d, "documents"), "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.4, maxDf = 50)),

    // deterministic 80/10/10 train/val/test split; rows never migrate
    // between splits as the corpus grows
    "q_dataset_split" -> ((s, d) =>
      SamplingOps.assignSplits(t(s, d, "documents"), "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang", "split")),

    // sequence packing: docs → fixed-budget context-window packs, sharded
    // by key hash so shards pack independently in parallel
    "q_sequence_pack" -> ((s, d) =>
      SamplingOps.packByBudget(t(s, d, "documents"), "doc_id", "n_chars",
        budget = 5000L, nShards = 8)
        .select("doc_id", "shard", "pack_id", "n_chars")
        .orderBy("doc_id")),

    // native Generator (UDTF surface): streaming shingle explode, no
    // intermediate array materialization
    "q_shingle_explode" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          graft.functions.ShingleExplode(col("text"), 3))
        .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("sh"))
        .orderBy("doc_id", "pos")),

    // split PARITY audit: per-split language proportions vs the corpus —
    // a hash split should be exchangeable; ratios far from 1 mean the
    // split is confounded with content (leakage's quieter sibling)
    "q_split_parity" -> ((s, d) => {
      val sp = SamplingOps.assignSplits(t(s, d, "documents"), "doc_id",
        Seq(("train", 80), ("val", 10), ("test", 10)))
      val splitTot = sp.groupBy("split").agg(count(lit(1)).as("n_split"))
      val langTot = sp.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val tot = sp.agg(count(lit(1)).as("n"))
      sp.groupBy("split", "lang").agg(count(lit(1)).as("n_cell"))
        .join(splitTot, "split").join(langTot, "lang").join(broadcast(tot))
        .select(col("split"), col("lang"), col("n_cell"),
          round((col("n_cell") * col("n")).cast("double") /
            (col("n_split") * col("n_lang")).cast("double"), 6)
            .as("parity_ratio"))
        .orderBy("split", "lang")
    }),

    // dedup DECISION AUDIT: per-doc keep/drop provenance — exact-dup
    // evidence wins over near-dup evidence, survivors are 'unique'; the
    // governance table behind "why is my document gone"
    "q_dedup_audit" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val exactKeep = docs
        .select(col("doc_id"), md5(col("text")).as("__fp"))
        .withColumn("keeper",
          min(col("doc_id")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("__fp")))
      // near evidence from the persisted minhash pair store: band
      // candidates are threshold-independent, so the 0.4-threshold table
      // filtered at 0.9 is row-identical to a direct threshold-0.9 run
      val nearEvidence = graft.ext.ClusterStore.pairs(s, minhashStore(s, d))
        .filter(col("jaccard") >= 0.9)
        .groupBy(col("id2").as("doc_id"))
        .agg(min(col("id1")).as("near_of"))
      exactKeep.join(nearEvidence, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("keeper") =!= col("doc_id"), lit("exact_dup"))
            .when(col("near_of").isNotNull, lit("near_dup"))
            .otherwise(lit("unique")).as("status"),
          when(col("keeper") =!= col("doc_id"), col("keeper"))
            .otherwise(col("near_of")).as("evidence_id"))
        .orderBy("doc_id")
    }),

    // behavioral PATH MINING: the most common event-type trigrams along
    // user timelines ((ts, event_id)-ordered) — funnel discovery without
    // pre-declaring the funnel
    "q_event_trigrams" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val seqs = t(s, d, "events")
        .groupBy("user_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            e => e.getField("event_type")), " ").as("path"))
      seqs
        .select(explode(call_function("graft_word_grams",
          col("path"), lit(3))).as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram").asc).limit(15)
    }),

    // inter-arrival telemetry: per event type, the median and p95 gap
    // (seconds) between a user's consecutive events of that type
    "q_interarrival" -> ((s, d) => {
      val w = Window.partitionBy("event_type", "user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("gap",
          unix_timestamp(col("ts")) - unix_timestamp(col("prev")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          expr("percentile(gap, 0.5)").as("p50_gap"),
          expr("percentile(gap, 0.95)").as("p95_gap"))
        .orderBy("event_type")
    }),

    // LAST-TOUCH attribution: each purchase credits the user's most
    // recent click/view at-or-before it (ties → latest event_id) — the
    // marketing-analytics composition of the as-of join
    "q_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast(LongType).as("vc"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts").as("tts"),
          col("event_id").as("tid"), col("event_type").as("touch_type"))
      graft.ops.TemporalOps.asofJoin(purchases, touches, "user_id",
          "ts", "tts", "tid", Seq("touch_type"))
        .groupBy(coalesce(col("asof_touch_type"), lit("none"))
          .as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(col("vc")).cast("double") / 100.0).as("total_value"))
        .orderBy("touch_type")
    }),

    // SemDeDup OPERATING-POINT sweep: pair volume and touched-doc count
    // at several cosine thresholds, all from ONE bucketed pair pass —
    // the "how aggressive can we afford to dedup" planning table
    "q_semdedup_sweep" -> ((s, d) => {
      val pairs = SimilarityOps.cosineNearDupPairs(t(s, d, "embeddings"),
        "vec_id", "embedding", threshold = 0.2, nBits = 4, stride = 8)
      val swept = pairs.select(col("id1"), col("id2"), col("score"),
          explode(typedlit(Seq(0.2, 0.4, 0.6, 0.8))).as("threshold"))
        .filter(col("score") >= col("threshold"))
      val np = swept.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
      val nd = swept
        .select(col("threshold"),
          explode(array(col("id1"), col("id2"))).as("id"))
        .distinct()
        .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
      np.join(nd, "threshold").orderBy("threshold")
    }),

    // dup-cluster SIZE distribution: how big do transitive dup groups
    // get (the blowup detector for keep-one dedup planning)
    "q_cluster_size_hist" -> ((s, d) =>
      graft.ext.ClusterStore.clusterSizes(s, chainStore(s, d))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),

    // per-GROUP top-k via the bounded heap — the scale form of the
    // PARTITION BY rank window (map-side pruning to k per partition,
    // never a full-corpus rank shuffle); bit-identical to the window
    "q_group_topk" -> ((s, d) =>
      SamplingOps.groupTopK(t(s, d, "documents"),
          "lang", "doc_id", "n_chars", k = 3)
        .orderBy("lang", "rank")),

    // per-label centroid similarity matrix: which label slices of the
    // embedding space have collapsed into each other (drift/mislabeling)
    "q_centroid_matrix" -> ((s, d) => {
      val vm = udaf(new graft.functions.VectorAggregators.VectorMean(8))
      val cents = t(s, d, "embeddings")
        .select(col("label").cast(LongType).as("label"),
          slice(col("embedding"), 1, 8).as("v8"))
        .groupBy("label").agg(vm(col("v8")).as("m"))
        .select(col("label"),
          transform(col("m"), x => round(x, 6)).as("c"))
      cents.as("a").join(cents.as("b"), col("a.label") < col("b.label"))
        .select(col("a.label").as("label1"), col("b.label").as("label2"),
          SimilarityOps.cosine(col("a.c"), col("b.c")).as("cos_sim"))
        .orderBy("label1", "label2")
    }),

    // Hill tail-index estimator over doc lengths: alpha ≈ 1 means a
    // heavy Zipf-like tail (a few giant docs own the token budget),
    // large alpha means thin tails — the length-cap planning diagnostic
    "q_hill_tail" -> ((s, d) => {
      val dec = DecimalType(28, 6)
      val top = t(s, d, "documents").filter(col("n_chars") > 0)
        .select(col("n_chars").cast("double").as("x"), col("doc_id"))
        .orderBy(col("x").desc, col("doc_id").asc).limit(101)
      val ranked = top.withColumn("r", row_number()
        // unpartitioned window BOUND: post-limit(101) tail order statistics
        .over(Window.orderBy(col("x").desc, col("doc_id").asc)).cast("long"))
      val xref = ranked.filter(col("r") === 101).select(col("x").as("xref"))
      ranked.filter(col("r") <= 100).join(broadcast(xref))
        .select(round(log(col("x") / col("xref")), 6).cast(dec).as("lx"))
        .agg(count(lit(1)).as("k"), sum(col("lx")).as("s"))
        .select(col("k"),
          round(col("k").cast("double") / col("s").cast("double"), 6)
            .as("alpha"))
    }),

    // SPECTRAL diagnostic: top principal direction of the embedding
    // corpus by 2-round power iteration — anisotropy/collapse detection
    // and the "remove the top PC" preprocessing signal
    "q_top_eigenvector" -> ((s, d) =>
      SimilarityOps.powerIterationTopPC(
          t(s, d, "embeddings"), "embedding", dim = 64, iters = 2)
        .orderBy("dim")),

    // scalar collapse metric: share of the corpus's second moment lying
    // along the top principal direction — near 1 means the embedding
    // space has degenerated toward a line (similarity scores saturate)
    "q_pc1_share" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val u = SimilarityOps.powerIterationTopPC(emb, "embedding", 64, 2)
        .orderBy("dim").collect().map(_.getDouble(1)).toSeq
      val uLit = typedlit(u)
      val dec = DecimalType(28, 9)
      val proj = round(aggregate(
        zip_with(col("embedding"), uLit, (a, b) => a.cast("double") * b),
        lit(0.0), (acc, e) => acc + e), 6)
      val norm2 = round(aggregate(
        transform(col("embedding"), a => a.cast("double") * a.cast("double")),
        lit(0.0), (acc, e) => acc + e), 6)
      emb.filter(col("embedding").isNotNull)
        .select(round(proj * proj, 9).cast(dec).as("p2"),
          norm2.cast(dec).as("t2"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("p2")).as("ps"), sum(col("t2")).as("ts"))
        .select(col("n_vecs"),
          round(col("ps").cast("double") / col("ts").cast("double"), 6)
            .as("pc1_share"))
    }),

    // the APPLY side of q_top_eigenvector: project out the top PC and
    // report per-vector projection + residual norm — the all-but-the-top
    // variance each embedding keeps after anisotropy removal
    "q_pc_residual" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val u = SimilarityOps.powerIterationTopPC(emb, "embedding", 64, 2)
        .orderBy("dim").collect().map(_.getDouble(1)).toSeq
      val uLit = typedlit(u)
      val proj = round(aggregate(
        zip_with(col("embedding"), uLit, (a, b) => a.cast("double") * b),
        lit(0.0), (acc, e) => acc + e), 6)
      emb.select(col("vec_id"), proj.as("proj"))
        .join(emb, "vec_id")
        .select(col("vec_id"), col("proj"),
          round(sqrt(aggregate(
            zip_with(col("embedding"), uLit, (a, b) =>
              (a.cast("double") - col("proj") * b) *
                (a.cast("double") - col("proj") * b)),
            lit(0.0), (acc, e) => acc + e)), 6).as("res_norm"))
        .orderBy("vec_id")
    }),

    // margin-based pair MINING (the bitext/parallel-data score): best
    // cross-label neighbor normalized by its top-4 neighborhood mean —
    // margin ≈ 1 means "no better than the neighborhood", reject
    "q_margin_mining" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.marginTopPairs(
          emb.filter(col("label") === 0), emb.filter(col("label") === 1),
          "vec_id", "embedding", k = 4)
        .orderBy("query_id")
    }),

    // k-ANONYMIZED export: (lang, source) cells under 5 docs collapse
    // into a suppressed bucket before the counts leave the platform —
    // the standard small-cell disclosure rule
    "q_kanon_export" -> ((s, d) => {
      val cells = t(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      cells
        .withColumn("source",
          when(col("n") < 5, lit("__suppressed")).otherwise(col("source")))
        .groupBy("lang", "source").agg(sum(col("n")).as("n_docs"))
        .orderBy("lang", "source")
    }),

    // Wilson 95% interval around each priority's fulfilled-rate — the
    // confidence band a rate dashboard shows; stays in [0,1] at small n
    "q_conversion_wilson" -> ((s, d) =>
      graft.ops.StatsOps.wilsonInterval(
          t(s, d, "orders").withColumn("ok", col("o_orderstatus") === "F"),
          "o_orderpriority", "ok", z = 1.96)
        .orderBy("o_orderpriority")),

    // chi-square independence test: order priority × status contingency
    // — the experiment-analysis statistic; decimal-summed 8dp terms so
    // partition order can't wiggle it
    "q_chi_square" -> ((s, d) =>
      graft.ops.StatsOps.chiSquareIndependence(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus")),

    // two-sample Kolmogorov-Smirnov: do purchase and view events draw
    // their (dollar-binned) values from the same distribution — max CDF
    // gap + WHERE it occurs
    "q_ks_test" -> ((s, d) =>
      graft.ops.StatsOps.ksStatistic(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Spearman rank correlation: quantity vs line price — monotone
    // association robust to the price column's heavy tail; doubled
    // fractional ranks keep every moment exact-integer. Price pre-bins
    // to whole dollars (the KS convention, SCALE.md: the support is then
    // bounded by the PRICE RANGE, not corpus cardinality) — and the rank
    // engine itself range-buckets the support (doubledRanks), so even a
    // raw continuous column cannot degenerate to a single-task sort
    "q_spearman" -> ((s, d) =>
      graft.ops.StatsOps.spearmanCorr(
        t(s, d, "lineitem")
          .withColumn("pbin", round(col("l_extendedprice"), 0)),
        "l_quantity", "pbin")),

    // Mann-Whitney U: do purchase events sit at systematically higher
    // values than views — the nonparametric shift test, tie-corrected z
    "q_mann_whitney" -> ((s, d) =>
      graft.ops.StatsOps.mannWhitneyU(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // the PAIRED family (r16): per-user click vs view spend — the same
    // pair fixture feeds all three tests so the rank / parametric /
    // sign readouts are comparable. Pair values are exact per-user cent
    // sums (order-independent); users missing either side drop (null
    // difference), matching the ops' null-sided-pair contract.
    "q_wilcoxon_signed_rank" -> ((s, d) =>
      graft.ops.StatsOps.wilcoxonSignedRank(pairedSpend(s, d),
        "click_cents", "view_cents")),

    // paired t on the same pairs: mean_diff is in the PAIR's units
    // (cents of spend), t with unbiased s^2, df = n-1
    "q_paired_ttest" -> ((s, d) =>
      graft.ops.StatsOps.pairedTTest(pairedSpend(s, d),
        "click_cents", "view_cents")),

    // sign test on the same pairs: only the sign of each difference
    // counts — the outlier-proof member of the trio
    "q_sign_test" -> ((s, d) =>
      graft.ops.StatsOps.signTest(pairedSpend(s, d),
        "click_cents", "view_cents")),

    // one-way ANOVA F across ALL event types: the k-group mean test the
    // pairwise welch/mann-whitney readouts generalize to; exact-cents
    // group moments, cancellation-free between/within terms
    "q_anova_f" -> ((s, d) =>
      graft.ops.StatsOps.anovaF(t(s, d, "events"), "value", "event_type")),

    // Levene's W on the same groups: does the VARIANCE differ — the
    // admission check for ANOVA's pooled-variance assumption, and a
    // spread-drift detector in its own right
    "q_levene" -> ((s, d) =>
      graft.ops.StatsOps.leveneW(t(s, d, "events"), "value", "event_type")),

    // Tukey-Kramer HSD: AFTER the F rejects, which event-type PAIRS
    // moved — studentized-range q per pair against the pooled MS_W
    "q_tukey_pairs" -> ((s, d) =>
      graft.ops.StatsOps.tukeyHsd(t(s, d, "events"), "value", "event_type")),

    // Kruskal-Wallis H: the rank ANOVA (k-group mann-whitney) — ranks
    // ride the distributed kernel, H in the cancellation-free
    // deviations form, tie-corrected
    "q_kruskal_wallis" -> ((s, d) =>
      graft.ops.StatsOps.kruskalWallis(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type")),

    // Jonckheere-Terpstra: do higher line numbers ship systematically
    // larger quantities — the ordered-alternative kruskal-wallis, one
    // degree of freedom on the hypothesized group order
    "q_jonckheere" -> ((s, d) =>
      graft.ops.StatsOps.jonckheereTerpstra(t(s, d, "lineitem"),
        "l_quantity", "l_linenumber")),

    // Cochran-Armitage: does the return RATE trend monotonically across
    // line numbers (ordered doses) — one degree of freedom on the
    // trend, where chi-square burns k-1 noticing anything at all
    "q_trend_test" -> ((s, d) =>
      graft.ops.StatsOps.cochranArmitage(
        t(s, d, "lineitem")
          .withColumn("ret", col("l_returnflag") === "R"),
        "l_linenumber", "ret")),

    // regression discontinuity at quantity 25 (bandwidth 15): the jump
    // in line revenue where the running variable crosses the cutoff —
    // local linear fit each side, one conditional-aggregation pass
    "q_rdd_readout" -> ((s, d) =>
      graft.ops.StatsOps.rddReadout(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", cutoff = 25.0, bandwidth = 15.0)),

    // single mean-shift changepoint of the daily value series: the
    // best one-break split by SSE reduction (binary segmentation's
    // first cut) — exact-cents prefix sums, cancellation-free gain
    "q_changepoint_mean" -> ((s, d) =>
      graft.ops.TemporalOps.changepointMean(
        t(s, d, "events"), "ts", "value")),

    // Pettitt rank changepoint on the same daily series: the
    // nonparametric companion — rank-based U_t via the exact doubled-
    // rank identity, no pair enumeration, asymptotic p
    "q_pettitt" -> ((s, d) =>
      graft.ops.TemporalOps.pettittTest(
        t(s, d, "events"), "ts", "value")),

    // Durbin-Watson on the daily trend residuals: is the fitted line
    // under-modeling — serial correlation left in the errors makes its
    // confidence intervals lie; closed-form OLS + exact-cents residuals
    "q_durbin_watson" -> ((s, d) =>
      graft.ops.TemporalOps.durbinWatson(
        t(s, d, "events"), "ts", "value")),

    // Mann-Kendall monotone-trend test on the daily value series: the
    // significance companion to q_theil_sen's robust slope — exact
    // integer S over the day-pair triangle, tie-corrected z
    "q_mann_kendall" -> ((s, d) =>
      graft.ops.TemporalOps.mannKendall(
        t(s, d, "events"), "ts", "value")),

    // classical additive decomposition of the daily value series:
    // centered 7-day trend, day-of-week seasonal, residual — the table
    // behind q_seasonality_strength's single eta-squared
    "q_seasonal_decompose" -> ((s, d) =>
      graft.ops.TemporalOps.seasonalDecompose(
        t(s, d, "events"), "ts", "value")),

    // Granger-style lag test: does yesterday's click volume improve
    // today's purchase forecast beyond yesterday's purchases — closed-
    // form nested-OLS F off nine exact moments on the day grid
    "q_granger_lite" -> ((s, d) =>
      graft.ops.TemporalOps.grangerLite(
        t(s, d, "events"), "ts", "event_type", "click", "purchase")),

    // Mantel-Haenszel pooled odds ratio across line-number strata, with
    // the RBG confidence interval and VanderWeele's E-value — the
    // Simpson-proof stratified 2x2 beside q_odds_ratio's pooled table
    "q_mantel_haenszel" -> ((s, d) =>
      graft.ops.StatsOps.mantelHaenszelOr(
        t(s, d, "lineitem")
          .withColumn("disc", col("l_discount") > 0.05)
          .withColumn("ret", col("l_returnflag") === "R"),
        "l_linenumber", "disc", "ret")),

    // Qini uplift curve: per activity-score decile, the cumulative
    // incremental conversions the treated hash arm shows over control —
    // the curve an uplift model is judged on, deciles off the NTILE
    // kernel (no single-task sort)
    "q_qini" -> ((s, d) => {
      val users = t(s, d, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("score"),
          // "heavy buyer" conversion (>= 14 purchases — above the
          // fixture median) so both outcomes carry real mass; an
          // any-purchase definition converts ~everyone and flattens
          // the curve to zero
          (sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            >= 14).as("converted"))
        .withColumn("treated",
          pmod(graft.ext.TextOps.fingerprint60(
            concat(col("user_id").cast("string"), lit(":ab"))),
            lit(2L)) === 0L)
      graft.ops.StatsOps.qiniCurve(users, "score", "user_id",
        "treated", "converted")
    }),

    // log-rank test on time-to-first-purchase: do the two hash arms
    // convert at different speeds — users who never purchase are
    // right-censored at the corpus end; observed-vs-hypergeometric-
    // expected conversions at every event time
    "q_log_rank" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val firsts = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        min(when(col("event_type") === "purchase",
          date_trunc("day", col("ts")))).as("__p"))
      val maxd = ev.agg(max(date_trunc("day", col("ts"))).as("__maxd"))
      val units = firsts.crossJoin(broadcast(maxd))
        .select(
          datediff(coalesce(col("__p"), col("__maxd")), col("__first"))
            .cast("long").as("duration"),
          col("__p").isNotNull.as("converted"),
          when(pmod(graft.ext.TextOps.fingerprint60(
            concat(col("user_id").cast("string"), lit(":ab"))),
            lit(2L)) === 0L, "a").otherwise("b").as("arm"))
      graft.ops.StatsOps.logRankTest(units, "duration", "converted",
        "arm", "a", "b")
    }),

    // Cramér-von Mises: the L2 distribution gap — squared CDF
    // difference integrated over the pooled sample; catches many small
    // persistent deviations KS's single worst gap misses
    "q_cvm_test" -> ((s, d) =>
      graft.ops.StatsOps.cramerVonMises(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // 1-D Wasserstein distance between purchase and view values: the
    // area between the two CDFs — the distribution gap weighted by HOW
    // FAR the mass moved, where KS reads only the worst point gap
    "q_wasserstein" -> ((s, d) =>
      graft.ops.StatsOps.wasserstein1D(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Nelson-Aalen cumulative hazard over the conversion durations:
    // integrated risk on the same censoring-aware risk sets KM draws —
    // the scale on which hazards ADD
    "q_nelson_aalen" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val firsts = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        min(when(col("event_type") === "purchase",
          date_trunc("day", col("ts")))).as("__p"))
      val maxd = ev.agg(max(date_trunc("day", col("ts"))).as("__maxd"))
      val units = firsts.crossJoin(broadcast(maxd))
        .select(
          datediff(coalesce(col("__p"), col("__maxd")), col("__first"))
            .cast("long").as("duration"),
          col("__p").isNotNull.as("converted"))
      graft.ops.StatsOps.nelsonAalen(units, "duration", "converted")
    }),

    // Chapman capture-recapture: how many customers exist IN TOTAL
    // given what the 1996 and 1997 order books each saw — the unseen-
    // mass estimate beside q_kmv_overlap's observed overlap
    "q_capture_recapture" -> ((s, d) =>
      graft.ops.StatsOps.captureRecapture(
        t(s, d, "orders").select(col("o_custkey"),
          (year(col("o_orderdate")) === 1996).as("in_a"),
          (year(col("o_orderdate")) === 1997).as("in_b")),
        "o_custkey", "in_a", "in_b")),

    // Chao1 + Good-Turing vocabulary richness: how many word types the
    // corpus has NOT seen — the stopping rule beside q_vocab_growth's
    // Heaps curve
    "q_vocab_richness" -> ((s, d) =>
      TextOps.vocabRichness(t(s, d, "documents"), "text")),

    // item-item CF: per part, its top-5 cosine co-order neighbors with
    // >= 2 shared orders — the recommender ranking beside basket_lift's
    // surprise score; per-basket pair fanout, bounded-heap top-k
    "q_item_cf_topk" -> ((s, d) =>
      // raw lineitem input on purpose: item-CF keys on partkey alone,
      // so routing it through the shared lineitem⋈part basket frame
      // (which q_basket_lift/q_basket_rules genuinely need for ptype)
      // buys nothing and makes this query pay the full join rebuild
      // whenever the cached frame is evicted mid-bench (observed:
      // 2.6s → 4.8s). The 64-item cap never binds on TPC-H baskets
      // (≤7 lines/order) but makes the Σ basket² pair-fanout bound
      // ENFORCED rather than assumed
      graft.ext.SimilarityOps.itemCfTopK(t(s, d, "lineitem"),
        "l_orderkey", "l_partkey", minSupport = 2L, k = 5,
        maxBasketSize = 64)
        .orderBy("item", "rank")),

    // Kendall's tau-b between quantity and line number: order
    // agreements counted via 2-D prefix sums on the dense level grid —
    // never pair enumeration; Goodman-Kruskal gamma rides along
    "q_kendall_tau" -> ((s, d) =>
      graft.ops.StatsOps.kendallTauB(t(s, d, "lineitem"),
        "l_quantity", "l_linenumber")),

    // Brunner-Munzel: the heteroscedastic rank test — P(X<Y)+half-ties
    // without the equal-shape assumption mann-whitney inherits; three
    // rank maps off the kernel with one shared boundary probe
    "q_brunner_munzel" -> ((s, d) =>
      graft.ops.StatsOps.brunnerMunzel(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Cliff's delta: the ordinal effect SIZE behind mann-whitney's
    // significance — P(purchase > view) - P(purchase < view), with the
    // standard Romano magnitude bands
    "q_cliffs_delta" -> ((s, d) =>
      graft.ops.StatsOps.cliffsDelta(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Page's trend test: per ship-day, do later line positions carry
    // systematically larger mean quantities — the ordered-alternative
    // Friedman, one degree of freedom on the hypothesized order.
    // Blocks are DAYS on the (day × line-position) mean-quantity grid
    // (q_friedman's shape): l_linenumber is NOT unique within an order
    // in this corpus, so raw (orderkey, linenumber) blocks almost never
    // satisfy the k-distinct-treatments completeness contract — the
    // day grid is complete by construction wherever all 7 positions
    // shipped that day
    "q_page_trend" -> ((s, d) => {
      val daily = t(s, d, "lineitem")
        .filter(col("l_shipdate").isNotNull && col("l_linenumber").isNotNull
          && col("l_quantity").isNotNull)
        .groupBy(date_trunc("day", col("l_shipdate")).as("day"),
          col("l_linenumber").as("ln"))
        .agg((sum(graft.ops.StatsOps.cents(col("l_quantity")))
          .cast("double") / count(lit(1))).as("mq"))
      graft.ops.StatsOps.pageTrend(daily, "day", "ln", "mq")
    }),

    // Friedman test: do event types rank the same WITHIN each day —
    // the repeated-measures rank ANOVA where kruskal-wallis would let
    // day-to-day volume drift masquerade as a type effect
    "q_friedman" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type").as("et"))
        .agg(count(lit(1)).as("cnt"))
      val days = daily.select("day").distinct()
      val types = daily.select("et").distinct()
      val dense = days.crossJoin(broadcast(types))
        .join(daily, Seq("day", "et"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      graft.ops.StatsOps.friedmanQ(dense, "day", "et", "cnt")
    }),

    // IPF/raking: fit per-(lang, source) weights so BOTH marginals go
    // uniform — the training-mix balancer that reweights instead of
    // discarding; 5 Deming-Stephan sweeps on the bounded cell grid
    "q_ipf_rake" -> ((s, d) =>
      graft.ops.StatsOps.ipfRake(t(s, d, "documents"),
        "lang", "source", rounds = 5)),

    // partial correlation: does price track quantity once discount is
    // held fixed — the confounder check before q_corr_regr's raw
    // correlation gets read causally; nine exact moments, one pass
    "q_partial_corr" -> ((s, d) =>
      graft.ops.StatsOps.partialCorr(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", "l_discount")),

    // G-test on the same contingency: the log-likelihood twin of chi2
    // that ADDS across table partitions (per-shard G sums to pooled G)
    "q_g_test" -> ((s, d) =>
      graft.ops.StatsOps.gTest(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus")),

    // Herfindahl concentration: is each priority band's revenue spread
    // across many customers or owned by a few — share-squared sums plus
    // the effective member count 1/HHI
    "q_hhi" -> ((s, d) =>
      graft.ops.StatsOps.hhiConcentration(t(s, d, "orders"),
        "o_orderpriority", "o_custkey", "o_totalprice")),

    // mutual information (nats) of the same contingency chi-square
    // tests: dependence MAGNITUDE where chi2 gives significance
    "q_mutual_info" -> ((s, d) =>
      graft.ops.StatsOps.mutualInformation(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus")),

    // Cramér's V effect size from the same single chi-square pass —
    // the ka/kb columns exist exactly so this needs no second scan
    "q_cramers_v" -> ((s, d) =>
      graft.ops.StatsOps.chiSquareIndependence(t(s, d, "orders"),
          "o_orderpriority", "o_orderstatus")
        .select(col("n"),
          round(sqrt(col("chi2") /
            (col("n") * (least(col("ka"), col("kb")) - 1))), 6)
            .as("cramers_v"))),

    // per-event-type OLS trendline of value over epoch seconds — exact
    // integer moments (cents × seconds in DECIMAL), one double fit per
    // group row
    "q_ols_trend" -> ((s, d) =>
      graft.ops.StatsOps.olsTrend(
          t(s, d, "events").withColumn("xs", unix_timestamp(col("ts"))),
          "event_type", "xs", "value")
        .orderBy("event_type")),

    // MAD robust outlier audit per event type: median/MAD and the count
    // beyond 3 "robust sigmas" — the detector outliers can't drag
    "q_mad_outliers" -> ((s, d) =>
      graft.ops.StatsOps.madOutliers(t(s, d, "events"),
          "event_type", "value", k = 3.0)
        .orderBy("event_type")),

    // exact ROC-AUC by rank-sum: does event value rank purchases above
    // the rest — ties count half via fractional ranks, no curve built
    "q_roc_auc" -> ((s, d) =>
      graft.ops.EvalOps.rocAuc(
        t(s, d, "events")
          .withColumn("score", round(col("value"), 1))
          .withColumn("y", col("event_type") === "purchase"),
        "score", "y")),

    // Brier score of a fixed logistic score against the purchase
    // outcome — the strictly-proper rule punishing miscalibration too
    "q_brier" -> ((s, d) =>
      graft.ops.EvalOps.brierScore(
        t(s, d, "events")
          .withColumn("p", round(lit(1.0) /
            (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
          .withColumn("y", col("event_type") === "purchase"),
        "p", "y")),

    // reliability table of the same logistic score: per-bin mean
    // prediction vs realized positive rate — the calibration diagram
    "q_calibration_bins" -> ((s, d) =>
      graft.ops.EvalOps.calibrationBins(
        t(s, d, "events")
          .withColumn("p", round(lit(1.0) /
            (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
          .withColumn("y", col("event_type") === "purchase"),
        "p", "y", bins = 10)),

    // Cohen's kappa between two binary raters (status=F vs high
    // priority): agreement beyond chance, all-integer until one divide
    "q_cohen_kappa" -> ((s, d) =>
      graft.ops.EvalOps.cohenKappa(
        t(s, d, "orders")
          .withColumn("a", col("o_orderstatus") === "F")
          .withColumn("b",
            col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
        "a", "b")),

    // l-diversity release audit — k-anonymity's sharper sibling: a cell
    // can hold many rows yet leak exactly because every row shares one
    // sensitive value; cells need ≥ 3 distinct balances to pass
    "q_ldiversity" -> ((s, d) =>
      QualityCheck.lDiversity(t(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", l = 3)
        .orderBy("c_nationkey", "c_mktsegment")),

    // t-closeness — the skew rung of the release ladder: per-cell
    // ordered EMD of the (100-banded) balance distribution vs the
    // global one, exact-integer running sums until one divide
    "q_tcloseness" -> ((s, d) =>
      QualityCheck.tCloseness(
          t(s, d, "customer").withColumn("band",
            round(col("c_acctbal"), -2)),
          Seq("c_nationkey", "c_mktsegment"), "band", t = 0.15)
        .orderBy("c_nationkey", "c_mktsegment")),

    // ε-DP noisy counts: Laplace(1/ε) noise from a per-key PRF
    // (md5-parity fingerprint → inverse CDF) — reruns release
    // IDENTICAL values instead of averaging the noise away
    "q_dp_counts" -> ((s, d) =>
      QualityCheck.dpNoisyCounts(t(s, d, "orders"),
          "o_orderpriority", epsilon = 0.5)
        .orderBy("o_orderpriority")),

    // functional-dependency discovery: does user determine event type —
    // per user, distinct types and the verdict (single-event users hold,
    // multi-behavior users violate: the mixed-answer profiling shape)
    "q_fd_check" -> ((s, d) =>
      QualityCheck.functionalDependency(t(s, d, "events"),
          "user_id", "event_type")
        .orderBy("user_id")),

    // CUSUM change-point over the daily event-value series: the level-
    // shift detector that integrates small same-direction deviations a
    // per-point z-score never flags; exact-integer running sums
    "q_cusum" -> ((s, d) =>
      graft.ops.TemporalOps.cusumChangePoint(
        t(s, d, "events"), "ts", "value")),

    // EWMA control baseline: per day, the exponentially-weighted average
    // and the one-step-ahead residual — recursion unrolled into rounded
    // weighted terms so the float pow() never feeds a float sum
    "q_ewma_baseline" -> ((s, d) =>
      graft.ops.TemporalOps.ewmaBaseline(
        t(s, d, "events"), "ts", "value", alpha = 0.3)),

    // Theil-Sen robust slope: median of all pairwise day slopes — the
    // trend one corrupted day cannot drag; quadratic in DAYS, not data
    "q_theil_sen" -> ((s, d) =>
      graft.ops.TemporalOps.theilSenSlope(
        t(s, d, "events"), "ts", "value")),

    // trimmed mean per priority: drop the 5% tails, average the body —
    // robust location between mean and median; kept set reproducible
    // via 6dp-rounded bounds, kept values summed as exact cents
    "q_trimmed_mean" -> ((s, d) =>
      graft.ops.StatsOps.trimmedMean(t(s, d, "orders"),
          "o_orderpriority", "o_totalprice", lo = 0.05, hi = 0.95)
        .orderBy("o_orderpriority")),

    // median survival: the first duration where the KM curve crosses
    // 0.5 — "half the users churn within N days", composed on the same
    // curve q_kaplan_meier reports
    "q_median_survival" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val spans = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        max(date_trunc("day", col("ts"))).as("__last"))
      val maxd = spans.agg(max(col("__last")).as("__maxd"))
      val units = spans.crossJoin(broadcast(maxd))
        .select(
          datediff(col("__last"), col("__first")).cast("long")
            .as("duration"),
          (datediff(col("__maxd"), col("__last")) >= 7).as("churned"))
      graft.ops.StatsOps.kaplanMeier(units, "duration", "churned")
        // total answer: the first crossing if the curve reaches 0.5,
        // else the curve END with crossed=false ("median not reached" —
        // itself the finding when most units are censored)
        .withColumn("crossed", col("survival") <= 0.5)
        .orderBy(col("crossed").desc,
          when(col("crossed"), col("t")).otherwise(-col("t")).asc)
        .limit(1)
        .select(col("t").as("median_survival"), col("survival"),
          col("crossed"))
    }),

    // Bowley quartile skewness + IQR per event type: the robust shape
    // report (quartiles can't be dragged by the tail the way moments are)
    "q_quartile_shape" -> ((s, d) =>
      t(s, d, "events").filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.25)"), 6).as("q1"),
          round(expr("percentile(value, 0.5)"), 6).as("q2"),
          round(expr("percentile(value, 0.75)"), 6).as("q3"))
        .withColumn("iqr", round(col("q3") - col("q1"), 6))
        .withColumn("bowley_skew",
          when(col("iqr") > 0,
            round((col("q3") + col("q1") - lit(2.0) * col("q2")) /
              (col("q3") - col("q1")), 6))
            .otherwise(lit(null).cast("double")))
        .orderBy("event_type")),

    // weighted quartiles: the quantity-aware unit-price distribution per
    // return flag — each line item counts once PER UNIT SHIPPED, and all
    // three crossings are decided in exact integer cumulative-weight
    // arithmetic (no double ever enters the quantile decision)
    "q_weighted_quartiles" -> ((s, d) =>
      graft.ops.StatsOps.weightedQuartiles(
          t(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
          "l_quantity")
        .orderBy("l_returnflag")),

    // multi-source BFS: hop distance from the %50==0 seed docs through
    // the chain dup graph, 4 hops deep — the takedown blast-radius
    // primitive ("everything within k dup hops of a known-bad doc");
    // unreached nodes are absent, which IS the answer for them
    "q_bfs_hops" -> ((s, d) => {
      val edges = t(s, d, "documents")
        .filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
      val nodes = edges.select(col("id1").as("node"))
        .unionAll(edges.select(col("id2").as("node"))).distinct()
      graft.ops.GraphOps.bfsHops(
          preparedGraph(s, s"$d#chain_g", edges, "id1", "id2"),
          nodes.filter(col("node") % 50 === 0), "node", rounds = 4)
        .orderBy("node")
    }),

    // Jensen–Shannon divergence between the en and de unigram
    // distributions — the symmetric, bounded ([0, ln 2]) cross-corpus
    // distance where PSI/KL blow up on disjoint support; one
    // vocab-sized shuffle, text never moves
    "q_jsd_langs" -> ((s, d) =>
      TextOps.jsDivergence(t(s, d, "documents"), "text", "lang",
        "en", "de")),

    // Z-order layout audit: Morton-interleave (custkey, order-day) and
    // roll up per 256×256 grid cell — each cell's min/max on BOTH
    // dimensions stays box-bounded, the property that lets a scan
    // filtered on either dimension prune files after a z-sort
    "q_zorder_cells" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("day"))
        .select(col("o_custkey"), col("day"),
          graft.ops.ShardOps.zOrderKey(col("o_custkey"), col("day"), 16)
            .as("z"))
        .groupBy(shiftright(col("z"), 16).as("cell"))
        .agg(count(lit(1)).as("n_orders"),
          min("o_custkey").as("cust_lo"), max("o_custkey").as("cust_hi"),
          min("day").as("day_lo"), max("day").as("day_hi"))
        .orderBy("cell")),

    // small-files compaction advisor: per order-month row counts → files
    // needed at a 1000-row target and mean file fill — the layout report
    // a 100 TB writer reads before compacting (integer div, no doubles
    // until the final fill ratio)
    "q_compaction_plan" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("n_files", expr("(n_rows + 999) div 1000"))
        .withColumn("fill", round(col("n_rows").cast("double") /
          (col("n_files") * lit(1000.0)), 6))
        .orderBy("month")),

    // fuzzy name matching on the native Jaro-Winkler codegen kernel:
    // near-identical part names within first-token blocks (pair
    // generation blocked, never all-pairs — the blockedFuzzyJoin
    // contract with the record-linkage scorer)
    "q_jaro_winkler" -> ((s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
        .select(col("p_name"),
          substring_index(col("p_name"), " ", 1).as("__blk"))
      val a = names.select(col("__blk"), col("p_name").as("name_a"))
      val b = names.select(col("__blk"), col("p_name").as("name_b"))
      a.join(b, "__blk").filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          round(graft.functions.JaroWinkler(col("name_a"),
            col("name_b")), 6).as("jw"))
        .filter(col("jw") >= 0.9)
        .orderBy(col("jw").desc, col("name_a").asc, col("name_b").asc)
    }),

    // QQ plot at deciles: view-value vs purchase-value quantiles side by
    // side — WHERE two distributions diverge, where q_ks_test says
    // only how much; exact interpolated percentiles, 1-row broadcasts
    "q_qq_points" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("value").isNotNull)
      val ps = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
      def qs(tp: String, out: String) =
        ev.filter(col("event_type") === tp)
          .agg(expr(s"percentile(value, $ps)").as(out))
      qs("view", "qa").crossJoin(broadcast(qs("purchase", "qb")))
        .select(posexplode(arrays_zip(col("qa"), col("qb"))))
        .select(((col("pos") + 1).cast("double") / 10.0).as("p"),
          round(col("col.qa"), 6).as("q_view"),
          round(col("col.qb"), 6).as("q_purchase"))
        .withColumn("diff", round(col("q_view") - col("q_purchase"), 6))
        .orderBy("p")
    }),

    // direct-standardization treatment effect: hash-assigned arms
    // compared WITHIN each priority stratum, stratum diffs weighted by
    // stratum share — the confounder-adjusted readout beside q_cuped's
    // variance reduction; exact-cents means, one pinned double chain
    "q_standardized_effect" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("stratum"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("__c"),
          when(pmod(graft.ext.TextOps.fingerprint60(
              concat(col("o_orderkey").cast("string"), lit(":arm"))),
            lit(2L)) === 0L, 1L).otherwise(0L).as("__t"))
      val cells = o.groupBy("stratum")
        .agg(sum(when(col("__t") === 1L, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("__t") === 0L, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("__t") === 1L, col("__c")).otherwise(0L)).as("__st"),
          sum(when(col("__t") === 0L, col("__c")).otherwise(0L)).as("__sc"))
      val tot = cells.agg(sum(col("n_t") + col("n_c")).as("__n"))
      cells.crossJoin(broadcast(tot))
        .filter(col("n_t") > 0 && col("n_c") > 0)
        .select(col("stratum"), col("n_t"), col("n_c"),
          round(col("__st").cast("double") / col("n_t") / 100.0, 6)
            .as("mean_t"),
          round(col("__sc").cast("double") / col("n_c") / 100.0, 6)
            .as("mean_c"),
          round((col("n_t") + col("n_c")).cast("double") / col("__n"), 6)
            .as("weight"),
          round(((col("n_t") + col("n_c")).cast("double") / col("__n")) *
            (col("__st").cast("double") / col("n_t") / 100.0 -
              col("__sc").cast("double") / col("n_c") / 100.0), 6)
            .as("contribution"))
        .orderBy("stratum")
    }),

    // degree assortativity of the chain dup graph: do hubs attach to
    // hubs (r > 0) or to the fringe (r < 0, template-hub signature)? —
    // the one-number structure audit beside q_dup_degree_hist
    "q_degree_assortativity" -> ((s, d) =>
      graft.ops.GraphOps.degreeAssortativity(
        t(s, d, "documents").filter(col("doc_id") % 10 < 3)
          .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2")),
        "id1", "id2")),

    // Adamic–Adar link prediction over an enriched chain+skip dup graph:
    // every NON-adjacent distance-2 pair scored Σ 1/ln(deg(center)) over
    // its common neighbors — the transitive-duplicate candidates the
    // pairwise tiers missed (CC merges what IS connected; this ranks
    // what probably should be). Wedges enumerate per center with the
    // same hub cap discipline as the shingle df-caps.
    "q_adamic_adar" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        .unionAll(docs.filter(col("doc_id") % 10 < 2)
          .select(col("doc_id").as("id1"), (col("doc_id") + 2).as("id2")))
        .unionAll(docs.filter(col("doc_id") % 10 < 1)
          .select(col("doc_id").as("id1"), (col("doc_id") + 4).as("id2")))
      graft.ops.GraphOps.adamicAdar(edges, "id1", "id2",
          maxCenterDegree = 50)
        .orderBy("u", "v")
    }),

    // local clustering coefficients over the same enriched dup graph:
    // per node, what fraction of its neighbor PAIRS also collided —
    // the normalized community-density lens beside q_triangle_counts'
    // absolute counts (a 100-triangle hub can be less clustered than a
    // 1-triangle leaf pair)
    "q_clustering_coeff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.filter(col("doc_id") % 10 < 3)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        .unionAll(docs.filter(col("doc_id") % 10 < 2)
          .select(col("doc_id").as("id1"), (col("doc_id") + 2).as("id2")))
        .unionAll(docs.filter(col("doc_id") % 10 < 1)
          .select(col("doc_id").as("id1"), (col("doc_id") + 4).as("id2")))
      graft.ops.GraphOps.clusteringCoefficients(edges, "id1", "id2")
        .orderBy("node")
    }),

    // Wald SPRT over the daily urgent-order rate: cumulative LLR of
    // H1 (25%) vs H0 (15%) with the always-valid decision at each day —
    // continuous monitoring without the peeking penalty
    // autocorrelation of the daily event-count series, lags 1..14 — the
    // periodicity diagnostic beside MASE's verdict and η²'s magnitude:
    // weekly cycle = lag-7 spike, trend = slow decay; gap days are real
    // zeros on the contiguous day grid
    "q_acf" -> ((s, d) =>
      graft.ops.TemporalOps.acf(t(s, d, "events"), "ts", maxLag = 14)),

    // cross-correlation of click vs purchase daily counts at lags −7..7:
    // does click volume LEAD purchase volume and by how many days —
    // the bivariate twin of q_acf, same contiguous-grid + exact-integer
    // products discipline
    "q_xcf" -> ((s, d) =>
      graft.ops.TemporalOps.crossCorrelation(t(s, d, "events"), "ts",
        "event_type", "click", "purchase", maxLag = 7)),

    "q_sprt_monitor" -> ((s, d) =>
      graft.ops.TemporalOps.sprtMonitor(
          t(s, d, "orders").select(col("o_orderdate").as("ts"),
            (col("o_orderpriority") === lit("1-URGENT")).as("success")),
          "ts", "success", p0 = 0.15, p1 = 0.25)
        .orderBy("day")),

    // Church-Gale word burstiness: mean occurrences per CONTAINING doc —
    // topical/template words repeat inside the docs they touch where
    // function words spread evenly; the cross-doc boilerplate signal
    "q_word_burstiness" -> ((s, d) =>
      TextOps.wordBurstiness(t(s, d, "documents"), "doc_id", "text",
        minDf = 5L, k = 25)),

    // MMR diversity re-rank: top-8 relevance pool per query, 3 greedy
    // picks at λ=0.7 — each pick penalized by its max similarity to the
    // already-selected set; the dup-cluster-proof retrieval finisher
    // (plain top-k fills all slots with one answer restated)
    "q_mmr_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.mmrRerank(emb.filter(col("vec_id") < 5), emb,
          "vec_id", "embedding", pool = 8, k = 3, lambda = 0.7)
        .orderBy("query_id", "pick")
    }),

    // the persisted-index deployment of q_mmr_rerank: pool from the
    // AnnIndexStore at full probe (= exact), vectors from the index's
    // own cells table — raw corpus never read; bit-identical to the
    // in-memory operator, so the oracle is shared verbatim
    "q_mmr_store" -> ((s, d) =>
      graft.ext.AnnIndexStore.mmrTopK(s, annStore(s, d),
          t(s, d, "embeddings").filter(col("vec_id") < 5),
          "vec_id", "embedding", pool = 8, k = 3, lambda = 0.7,
          nprobe = 8)
        .orderBy("query_id", "pick")),

    // OHLC daily bars over purchase values: open/close by exact
    // (ts, event_id) argmin/argmax, high/low/volume — the bar
    // aggregation every time-series dashboard starts from
    "q_ohlc_daily" -> ((s, d) =>
      t(s, d, "events")
        .filter(col("event_type") === "purchase" && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(date_trunc("day", col("ts")).as("day"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("__c"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_trades"),
          min(struct(col("tsec"), col("event_id"), col("__c"))).as("__o"),
          max(struct(col("tsec"), col("event_id"), col("__c"))).as("__cl"),
          max(col("__c")).as("__hi"), min(col("__c")).as("__lo"),
          sum(col("__c")).as("__vol"))
        .select(col("day"), col("n_trades"),
          round(col("__o.__c").cast("double") / 100.0, 6).as("open"),
          round(col("__hi").cast("double") / 100.0, 6).as("high"),
          round(col("__lo").cast("double") / 100.0, 6).as("low"),
          round(col("__cl.__c").cast("double") / 100.0, 6).as("close"),
          round(col("__vol").cast("double") / 100.0, 6).as("volume"))
        .orderBy("day")
        .limit(200)),

    // distribution-free 95% CI for the median: order-statistic ranks
    // from the binomial normal approximation — no variance estimate,
    // no normality assumption, just ranks into the exact value
    // histogram (the sign-test inversion)
    "q_median_ci" -> ((s, d) => {
      val h = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as("c"))
      // unpartitioned window BOUND: distinct-cent histogram (value-range-bounded)
      val w = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = h.select(col("v"), sum(col("c")).over(w).as("cw"))
      val tot = cum.agg(max(col("cw")).as("n"))
      val ranks = tot.select(col("n"),
        floor((col("n").cast("double") -
          lit(1.96) * sqrt(col("n").cast("double"))) / 2.0).cast("long")
          .as("r_lo"),
        ceil(lit(1.0) + (col("n").cast("double") +
          lit(1.96) * sqrt(col("n").cast("double"))) / 2.0).cast("long")
          .as("r_hi"),
        ((col("n") + 1) / 2).cast("long").as("r_med"))
      cum.crossJoin(broadcast(ranks))
        .agg(max(col("n")).as("n"),
          min(when(col("cw") >= col("r_med"), col("v"))).as("__med"),
          min(when(col("cw") >= col("r_lo"), col("v"))).as("__lo"),
          min(when(col("cw") >= col("r_hi"), col("v"))).as("__hi"))
        .select(col("n"),
          round(col("__med").cast("double") / 100.0, 6).as("median"),
          round(col("__lo").cast("double") / 100.0, 6).as("ci_lo"),
          round(col("__hi").cast("double") / 100.0, 6).as("ci_hi"))
    }),

    // Neyman-optimal sample allocation: for a 1000-row measurement
    // budget, allocate n_h ∝ N_h·σ_h per stratum — variance-optimal
    // where proportional allocation ignores within-stratum spread; the
    // design step BEFORE samplePerStratum draws the rows
    "q_neyman_allocation" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      val cells = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("stratum"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("__c"))
        .groupBy("stratum")
        .agg(count(lit(1)).as("n_pop"),
          sum(col("__c").cast(dec38)).as("__s"),
          sum(col("__c").cast(dec38) * col("__c")).as("__ss"))
        .filter(col("n_pop") > 1)
        .select(col("stratum"), col("n_pop"),
          sqrt((col("n_pop").cast(dec38) * col("__ss") -
            col("__s") * col("__s")).cast("double") /
            (col("n_pop").cast("double") * (col("n_pop") - 1)))
            .as("__sigma"))
        .select(col("stratum"), col("n_pop"),
          round(col("__sigma") / 100.0, 6).as("sigma"),
          // 6dp-round the weight BEFORE the total: a raw double Σ over
          // strata is summation-order dependent across engines
          round(col("n_pop") * col("__sigma"), 6)
            .cast(DecimalType(28, 6)).as("__w"))
      val tot = cells.agg(sum(col("__w")).as("__wt"))
      cells.crossJoin(broadcast(tot))
        .select(col("stratum"), col("n_pop"), col("sigma"),
          round(col("__w").cast("double") / col("__wt").cast("double"), 6)
            .as("alloc_share"),
          round(lit(1000.0) * col("__w").cast("double") /
            col("__wt").cast("double"), 0).cast("long").as("alloc_n"))
        .orderBy("stratum")
    }),

    // discrete hazard curve: per duration, the conditional churn
    // probability d/n_risk — WHEN the risk concentrates, where the KM
    // curve shows only the cumulative survivor fraction; composed on
    // the same censoring-aware risk set
    "q_hazard_curve" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val spans = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        max(date_trunc("day", col("ts"))).as("__last"))
      val maxd = spans.agg(max(col("__last")).as("__maxd"))
      val units = spans.crossJoin(broadcast(maxd))
        .select(
          datediff(col("__last"), col("__first")).cast("long")
            .as("duration"),
          (datediff(col("__maxd"), col("__last")) >= 7).as("churned"))
      graft.ops.StatsOps.kaplanMeier(units, "duration", "churned")
        .select(col("t"), col("n_risk"), col("n_events"),
          round(col("n_events").cast("double") / col("n_risk"), 6)
            .as("hazard"))
        .orderBy("t")
    }),

    // precision-recall points by descending score-bin threshold: the
    // eval face that stays honest under class imbalance where ROC
    // flatters; cum precision/recall/F1 from the same bin histogram
    "q_pr_curve" -> ((s, d) => {
      val bins = t(s, d, "events")
        .withColumn("p", round(lit(1.0) /
          (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
        .withColumn("y", col("event_type") === "purchase")
        .filter(col("p").isNotNull)
        .groupBy(least(floor(col("p") * 10), lit(9)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).as("k"))
      // unpartitioned window BOUND: 10 score-decile bins
      val w = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = bins.agg(sum(col("k")).as("__kt"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), sum(col("n")).over(w).as("__cn"),
          sum(col("k")).over(w).as("__ck"), col("__kt"))
        .filter(col("__kt") > 0)
        .select(col("bin"),
          round(col("__ck").cast("double") / col("__cn"), 6)
            .as("precision"),
          round(col("__ck").cast("double") / col("__kt"), 6).as("recall"),
          when(col("__ck") > 0,
            round(lit(2.0) * (col("__ck").cast("double") / col("__cn")) *
              (col("__ck").cast("double") / col("__kt")) /
              (col("__ck").cast("double") / col("__cn") +
                col("__ck").cast("double") / col("__kt")), 6))
            .as("f1"))
        .orderBy(col("bin").desc)
    }),

    // cumulative gains / lift curve by descending score bin: what
    // share of all conversions the top-p scored slice captures — the
    // business-value view beside q_roc_auc's threshold-free ranking
    // quality; bin histogram + a 10-row window, never a corpus sort
    "q_gains_curve" -> ((s, d) => {
      val bins = t(s, d, "events")
        .withColumn("p", round(lit(1.0) /
          (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
        .withColumn("y", col("event_type") === "purchase")
        .filter(col("p").isNotNull)
        .groupBy(least(floor(col("p") * 10), lit(9)).cast("long")
          .as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y"), 1L).otherwise(0L)).as("k"))
      // unpartitioned window BOUND: 10 score-decile bins
      val w = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = bins.agg(sum(col("n")).as("__nt"), sum(col("k")).as("__kt"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("k"),
          sum(col("n")).over(w).as("__cn"),
          sum(col("k")).over(w).as("__ck"), col("__nt"), col("__kt"))
        .filter(col("__kt") > 0)
        .select(col("bin"), col("n"), col("k"),
          round(col("__cn").cast("double") / col("__nt"), 6)
            .as("cum_pop_share"),
          round(col("__ck").cast("double") / col("__kt"), 6)
            .as("cum_capture_share"),
          round((col("__ck").cast("double") / col("__kt")) /
            (col("__cn").cast("double") / col("__nt")), 6).as("lift"))
        .orderBy(col("bin").desc)
    }),

    // dataset-card numeric moments: every numeric column's
    // n/nulls/mean/std/min/max in ONE stacked pass — the moments
    // companion of q_profile_columns' counts; exact-cents moments
    "q_numeric_profile" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      def cents(c: org.apache.spark.sql.Column) =
        (c.cast(DecimalType(18, 2)) * 100).cast("long")
      t(s, d, "lineitem")
        .select(expr("stack(4, 'l_quantity', l_quantity, " +
          "'l_extendedprice', l_extendedprice, 'l_discount', l_discount, " +
          "'l_tax', l_tax) AS (column_name, v)"))
        .groupBy("column_name")
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_present"),
          sum(cents(col("v")).cast(dec38)).as("__s"),
          sum(cents(col("v")).cast(dec38) * cents(col("v"))).as("__ss"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .filter(col("n_present") > 1)
        .select(col("column_name"), col("n_rows"), col("n_present"),
          round(col("__s").cast("double") / col("n_present") / 100.0, 6)
            .as("mean"),
          round(sqrt((col("n_present").cast(dec38) * col("__ss") -
            col("__s") * col("__s")).cast("double") /
            (col("n_present").cast("double") * (col("n_present") - 1))) /
            100.0, 6).as("std"),
          col("min_v"), col("max_v"))
        .orderBy("column_name")
    }),

    // the measure step of the diagnose→fix→measure calibration loop:
    // in-sample ECE of the raw score vs of the isotonic-calibrated
    // score — Σ n·|bin rate − prediction|/N over the same bins
    "q_recalibration_gain" -> ((s, d) => {
      val dec = DecimalType(20, 8)
      val iso = graft.ops.EvalOps.isotonicCalibration(
        t(s, d, "events")
          .withColumn("p", round(lit(1.0) /
            (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
          .withColumn("y", col("event_type") === "purchase"),
        "p", "y", bins = 10)
      // raw prediction per bin = the bin-center probability; the
      // calibrated prediction = the isotonic fit — both scored against
      // the same observed rates
      iso
        .select(col("n"), col("k"),
          round(abs(col("k").cast("double") / col("n") -
            (col("bin").cast("double") + 0.5) / 10.0), 8).as("__eraw"),
          round(abs(col("k").cast("double") / col("n") -
            col("calibrated")), 8).as("__ecal"))
        .select(col("n"), col("k"),
          round(col("n") * col("__eraw"), 8).cast(dec).as("__wraw"),
          round(col("n") * col("__ecal"), 8).cast(dec).as("__wcal"))
        .agg(sum(col("n")).as("n_rows"),
          sum(col("__wraw")).as("__sraw"),
          sum(col("__wcal")).as("__scal"))
        .select(col("n_rows"),
          round(col("__sraw").cast("double") / col("n_rows"), 6)
            .as("ece_raw"),
          round(col("__scal").cast("double") / col("n_rows"), 6)
            .as("ece_calibrated"))
    }),

    // isotonic recalibration of the sigmoid score: the monotone rate
    // curve closest to the observed bin rates — the FIX beside
    // q_calibration_bins' diagnosis and q_ece's scalar; minimax
    // closed form replaces PAV's sequential loop
    "q_isotonic_calibration" -> ((s, d) =>
      graft.ops.EvalOps.isotonicCalibration(
        t(s, d, "events")
          .withColumn("p", round(lit(1.0) /
            (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
          .withColumn("y", col("event_type") === "purchase"),
        "p", "y", bins = 10)),

    // maximum drawdown of the daily close series: the deepest
    // peak-to-trough dip vs the running max — volatility says how
    // rough the ride is, drawdown says how bad the worst stretch was;
    // exact integer series, one double ratio per day
    "q_drawdown" -> ((s, d) => {
      // unpartitioned window BOUND: day-grid close series
      val w = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "purchase" && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(date_trunc("day", col("ts")).as("day"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("__c"))
        .groupBy("day")
        .agg(max(struct(col("tsec"), col("event_id"), col("__c")))
          .as("__cl"))
        .select(col("day"), col("__cl.__c").as("c"))
        .select(col("day"), col("c"), max(col("c")).over(w).as("__peak"))
        .select(count(lit(1)).as("n_days"),
          round(min(col("c").cast("double") / col("__peak") - lit(1.0)),
            6).as("max_drawdown"),
          max(col("__peak")).as("peak_cents"))
    }),

    // realized volatility of the daily close series: stdev of log
    // returns (+ the √252 annualization) — the risk number OHLC bars
    // feed; returns 8dp-rounded then decimal-summed moments
    "q_volatility" -> ((s, d) => {
      val dec = DecimalType(20, 8)
      val decSq = DecimalType(24, 10)
      val closes = t(s, d, "events")
        .filter(col("event_type") === "purchase" && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(date_trunc("day", col("ts")).as("day"),
          unix_timestamp(col("ts")).as("tsec"), col("event_id"),
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long")
            .as("__c"))
        .groupBy("day")
        .agg(max(struct(col("tsec"), col("event_id"), col("__c")))
          .as("__cl"))
        .select(col("day"), col("__cl.__c").as("c"))
      // unpartitioned window BOUND: day-grid close series
      val w = Window.orderBy(col("day").asc)
      closes.withColumn("__p", lag(col("c"), 1).over(w))
        .filter(col("__p").isNotNull && col("__p") > 0 && col("c") > 0)
        .select(round(log(col("c").cast("double") / col("__p")), 8)
          .cast(dec).as("__r"))
        .select(col("__r"),
          round(col("__r").cast("double") * col("__r").cast("double"), 10)
            .cast(decSq).as("__r2"))
        .agg(count(lit(1)).as("n_returns"), sum(col("__r")).as("__s"),
          sum(col("__r2")).as("__ss"))
        .filter(col("n_returns") > 1)
        .select(col("n_returns"),
          round(sqrt((col("n_returns").cast("double") *
            col("__ss").cast("double") -
            col("__s").cast("double") * col("__s").cast("double")) /
            (col("n_returns").cast("double") *
              (col("n_returns") - 1))), 6).as("daily_vol"),
          round(sqrt((col("n_returns").cast("double") *
            col("__ss").cast("double") -
            col("__s").cast("double") * col("__s").cast("double")) /
            (col("n_returns").cast("double") *
              (col("n_returns") - 1))) * sqrt(lit(252.0)), 6)
            .as("annualized_vol"))
    }),

    // journey predictability: entropy RATE of the event-type Markov
    // chain — H(next|cur) = Σ p(cur)·H(next|cur) from exact transition
    // counts; 0 = deterministic journeys, ln(K) = uniform chaos
    "q_entropy_rate" -> ((s, d) => {
      val dec = DecimalType(20, 8)
      val w = Window.partitionBy("user_id")
        .orderBy(col("tsec").asc, col("event_id").asc)
      val steps = t(s, d, "events").filter(col("ts").isNotNull)
        .select(col("user_id"), unix_timestamp(col("ts")).as("tsec"),
          col("event_id"), col("event_type").as("cur"))
        .withColumn("nxt", lead(col("cur"), 1).over(w))
        .filter(col("nxt").isNotNull)
      val cells = steps.groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      val rows = cells.groupBy("cur").agg(sum(col("n")).as("nr"))
      val tot = cells.agg(sum(col("n")).as("nt"))
      cells.join(rows, "cur").crossJoin(broadcast(tot))
        .select(col("nt"),
          round((col("n").cast("double") / col("nt")) *
            -log(col("n").cast("double") / col("nr")), 8).cast(dec)
            .as("__t"))
        .groupBy("nt")
        .agg(count(lit(1)).as("n_cells"),
          round(sum(col("__t")).cast("double"), 6).as("entropy_rate"))
        .select(col("nt").as("n_steps"), col("n_cells"),
          col("entropy_rate"))
    }),

    // clamped per-user credit ledger: purchases add cents, errors cost
    // a flat fee, balance clamped to [0, 20000] — the non-associative
    // fold NO window function can express (earlier clamping absorbs
    // unknown mass), carried by mapGroups sequential state
    "q_clamped_balance" -> ((s, d) =>
      graft.ops.TemporalOps.clampedBalance(
          t(s, d, "events")
            .filter(col("ts").isNotNull &&
              col("event_type").isin("purchase", "error"))
            .select(col("user_id"), unix_timestamp(col("ts")).as("tsec"),
              col("event_id"),
              when(col("event_type") === "purchase",
                coalesce((col("value").cast(DecimalType(18, 2)) * 100)
                  .cast("long"), lit(0L)))
                .otherwise(lit(-500L)).as("delta")),
          "user_id", "tsec", "event_id", "delta", lo = 0L, hi = 20000L)
        .orderBy("user_id")),

    // robust per-label prototypes: 3 Weiszfeld rounds toward the
    // geometric median of each label's embeddings — the mean is dragged
    // by every mislabeled vector, the median moves O(1/n); same 8-dim
    // face as q_vector_mean_by_label for the side-by-side
    "q_geometric_median" -> ((s, d) =>
      SimilarityOps.geometricMedian(
          t(s, d, "embeddings")
            .select(col("label").cast(LongType).as("label"),
              col("embedding")),
          "label", "embedding", dims = 8, rounds = 3)
        .orderBy("label")),

    // disparate-impact audit of the quality gate: per-language keep
    // rates and the four-fifths-rule ratio against the best-treated
    // language — does the curation filter silently dress down one
    // language's corpus share (the responsible-curation check)
    "q_parity_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val kept = TextOps.gopherFilter(docs, "doc_id", "text",
          minTokens = 20, maxTokens = 80, minStopHits = 2)
        .select(col("doc_id"), col("keep"))
      val rates = docs.filter(col("text").isNotNull)
        .select("doc_id", "lang").join(kept, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("keep_rate",
          round(col("n_kept").cast("double") / col("n"), 6))
      val best = rates.agg(max(col("keep_rate")).as("__best"))
      rates.crossJoin(broadcast(best))
        .select(col("lang"), col("n"), col("n_kept"), col("keep_rate"),
          round(col("keep_rate") / col("__best"), 6).as("impact_ratio"))
        .withColumn("flag_disparate", col("impact_ratio") < 0.8)
        .orderBy("lang")
    }),

    // ranking-churn audit: Average Overlap (Webber's RBO building
    // block) between two sources' top-30 word rankings — position-
    // aware agreement where plain set overlap treats rank 1 and rank
    // 30 alike; harmonic weights are shared driver literals
    "q_rank_overlap" -> ((s, d) => {
      def topWords(src: String) = t(s, d, "documents")
        .filter(col("source") === src && col("text").isNotNull)
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc).limit(30)
        .withColumn("rank", row_number().over(
          // unpartitioned window BOUND: post-limit(30) ranked list
          Window.orderBy(col("n").desc, col("word").asc)))
      graft.ops.EvalOps.averageOverlap(topWords("src0"),
        topWords("src1"), "word", "rank", depth = 30)
    }),

    // join fan-out histogram: lineitems-per-order distribution — the
    // cardinality profile read before sizing a join (a fat tail here is
    // tomorrow's skewed shuffle partition)
    "q_fanout_profile" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("fanout"))
        .groupBy("fanout").agg(count(lit(1)).as("n_orders"))
        .orderBy("fanout")),

    // Bloom-filter sizing advisor: exact distinct join keys → optimal
    // bits/key, total bits, and hash count at 1% FPP — the numbers
    // q_bloom_prune_join's filter is built from
    "q_bloom_advisor" -> ((s, d) =>
      t(s, d, "lineitem")
        .agg(countDistinct(col("l_orderkey")).as("n_keys"))
        .select(col("n_keys"),
          round(-log(lit(0.01)) / (log(lit(2.0)) * log(lit(2.0))), 6)
            .as("bits_per_key"),
          ceil(col("n_keys") *
            (-log(lit(0.01)) / (log(lit(2.0)) * log(lit(2.0)))))
            .cast("long").as("m_bits"),
          round(-log(lit(0.01)) / log(lit(2.0)), 0).cast("long")
            .as("k_hashes"))),

    // z-order effectiveness audit: for a 30-day scan, the fraction of
    // layout units touched under the Morton-cell layout vs a
    // customer-sorted layout — the measured pruning win the z-sort buys
    // (a date predicate hits every customer-sorted file)
    "q_zorder_effect" -> ((s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("day"))
        .select(col("o_custkey"), col("day"),
          shiftright(graft.ops.ShardOps.zOrderKey(col("o_custkey"),
            col("day"), 16), 16).as("zcell"),
          expr("o_custkey div 64").as("kbucket"))
      base.agg(
          countDistinct(col("zcell")).as("z_files_total"),
          countDistinct(when(col("day").between(600, 629), col("zcell")))
            .as("z_files_touched"),
          countDistinct(col("kbucket")).as("lex_files_total"),
          countDistinct(when(col("day").between(600, 629), col("kbucket")))
            .as("lex_files_touched"))
        .select(col("z_files_total"), col("z_files_touched"),
          col("lex_files_total"), col("lex_files_touched"),
          round(col("z_files_touched").cast("double") /
            col("z_files_total"), 6).as("z_touch_frac"),
          round(col("lex_files_touched").cast("double") /
            col("lex_files_total"), 6).as("lex_touch_frac"))
    }),

    // nDCG@10 of BM25 self-retrieval: graded position credit where MRR
    // rewards only the reciprocal rank — with one relevant doc per
    // query, dcg = 1/log2(rank+1) and the ideal is 1
    "q_ndcg_self" -> ((s, d) => {
      val dec = DecimalType(18, 6)
      // hits shared with q_self_retrieval_mrr — same run, graded credit
      val hits = selfRetrievalHits(s, d)
      val nq = selfRetrievalQueries(s, d).select("qid").distinct()
        .agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(hits.agg(count(lit(1)).as("n_hit"),
          sum(round(lit(1.0) / log2(col("rnk") + 1), 6).cast(dec))
            .as("__g")))
        .select(col("n_queries"), col("n_hit"),
          coalesce(round(col("__g").cast("double") / col("n_queries"), 6),
            lit(0.0)).as("ndcg"))
    }),

    // McNemar's paired test: did the same USERS convert differently
    // pre vs post midpoint — the within-subject readout an unpaired
    // two-proportion test dilutes; χ² = (b−c)²/(b+c) on the
    // discordant-pair counts
    "q_mcnemar" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
        .withColumn("tsec", unix_timestamp(col("ts")))
      val mid = ev.agg(floor((min(col("tsec")) + max(col("tsec"))) / 2.0)
        .cast("long").as("__mid"))
      ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" &&
            col("tsec") < col("__mid"), 1L).otherwise(0L)).as("pre"),
          max(when(col("event_type") === "purchase" &&
            col("tsec") >= col("__mid"), 1L).otherwise(0L)).as("post"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("pre") === 1L && col("post") === 1L, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("pre") === 0L && col("post") === 0L, 1L)
            .otherwise(0L)).as("n_neither"),
          sum(when(col("pre") === 1L && col("post") === 0L, 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("pre") === 0L && col("post") === 1L, 1L)
            .otherwise(0L)).as("c"))
        .select(col("n_users"), col("n_both"), col("n_neither"),
          col("b"), col("c"),
          when(col("b") + col("c") > 0,
            round((col("b") - col("c")).cast("double") *
              (col("b") - col("c")) / (col("b") + col("c")), 6))
            .as("mcnemar_chi2"))
    }),

    // split-conformal prediction interval: per-priority mean model on
    // splits {0,1,2}, q̂ from split 3's ⌈(n+1)·0.9⌉-th absolute
    // residual, coverage measured on held-out split 4 — distribution-
    // free uncertainty with an exact-integer rank threshold
    "q_conformal_interval" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select(col("o_orderpriority").as("grp"),
          (col("o_totalprice").cast(DecimalType(18, 2)) * 100)
            .cast("long").as("cents"),
          pmod(graft.ext.TextOps.fingerprint60(
            concat(col("o_orderkey").cast("string"), lit(":cf"))),
            lit(5L)).as("split"))
      graft.ops.StatsOps.conformalInterval(o, "grp", "cents", "split",
        trainSplits = Seq(0L, 1L, 2L), calSplit = 3L, testSplit = 4L)
    }),

    // minimum detectable effect at 80% power / 5% α: what lift could
    // this experiment even see — the pre-registration number read
    // BEFORE launching; exact-cents moments, one constant z-sum literal
    "q_mde_readout" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      t(s, d, "orders").filter(col("o_totalprice").isNotNull)
        .select((col("o_totalprice").cast(DecimalType(18, 2)) * 100)
          .cast("long").as("c"),
          (pmod(graft.ext.TextOps.fingerprint60(
            concat(col("o_orderkey").cast("string"), lit(":arm"))),
            lit(2L)) === 0L).as("__a"))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
          count(lit(1)).as("n"),
          sum(col("c").cast(dec38)).as("__sx"),
          sum((col("c").cast(dec38) * col("c"))).as("__sxx"))
        .select(col("n_a"), col("n_b"),
          ((col("n").cast(dec38) * col("__sxx") -
            col("__sx") * col("__sx")).cast("double") /
            (col("n").cast("double") * (col("n") - 1))).as("__var"),
          (col("__sx").cast("double") / col("n")).as("__mean"),
          least(col("n_a"), col("n_b")).as("__ne"))
        // z_{0.025} + z_{0.20} as ONE literal: both engines parse the
        // same decimal string to the same double (a two-term sum would
        // decimal-fold in SQL but double-fold here — 1-ulp hazard)
        .select(col("n_a"), col("n_b"),
          round(sqrt(col("__var")) / 100.0, 6).as("sigma"),
          round(lit(2.8015852186) *
            sqrt(col("__var") * 2.0 / col("__ne")) / 100.0, 6)
            .as("mde_abs"),
          round(lit(2.8015852186) *
            sqrt(col("__var") * 2.0 / col("__ne")) / col("__mean"), 6)
            .as("mde_rel"))
    }),

    // two-proportion z-test: purchase-rate difference between hash
    // arms with the pooled-variance z and the Wald CI of the diff —
    // the conversion readout q_conversion_wilson's per-arm bands
    // can't give directly
    // Welch two-sample t on the metric MEAN between the same hash arms
    // the two-proportion z tests on rates — unequal variances assumed
    // (always true in practice); exact-cents moments, one pinned double
    // chain, Welch–Satterthwaite df
    "q_welch_ttest" -> ((s, d) =>
      graft.ops.StatsOps.welchTTest(
        t(s, d, "events")
          .select(col("value"),
            (pmod(graft.ext.TextOps.fingerprint60(
              concat(col("user_id").cast("string"), lit(":ab"))),
              lit(2L)) === 0L).as("arm")),
        "arm", "value")),

    // the per-SEGMENT Welch table beside the headline: where does the
    // arm effect localize (or reverse — Simpson hunting); one Welch row
    // per event_type, same exact-cents moments and pinned chain
    "q_welch_by_segment" -> ((s, d) =>
      graft.ops.StatsOps.welchTTestBy(
        t(s, d, "events").filter(col("event_type").isNotNull)
          .select(col("event_type"), col("value"),
            (pmod(graft.ext.TextOps.fingerprint60(
              concat(col("user_id").cast("string"), lit(":ab"))),
              lit(2L)) === 0L).as("arm")),
        "event_type", "arm", "value")),

    "q_two_proportion" -> ((s, d) =>
      t(s, d, "events")
        .select((col("event_type") === lit("purchase")).as("__s"),
          (pmod(graft.ext.TextOps.fingerprint60(
            concat(col("user_id").cast("string"), lit(":ab"))),
            lit(2L)) === 0L).as("__a"))
        .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("k_a"),
          sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("k_b"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
        .select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          round(col("k_a").cast("double") / col("n_a"), 6).as("p_a"),
          round(col("k_b").cast("double") / col("n_b"), 6).as("p_b"),
          round((col("k_a").cast("double") / col("n_a") -
            col("k_b").cast("double") / col("n_b")) /
            sqrt(((col("k_a") + col("k_b")).cast("double") /
              (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("k_a") + col("k_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
            .as("z"),
          round((col("k_a").cast("double") / col("n_a") -
            col("k_b").cast("double") / col("n_b")) - lit(1.96) *
            sqrt(col("k_a").cast("double") / col("n_a") *
              (lit(1.0) - col("k_a").cast("double") / col("n_a")) /
              col("n_a") +
              col("k_b").cast("double") / col("n_b") *
                (lit(1.0) - col("k_b").cast("double") / col("n_b")) /
                col("n_b")), 6).as("diff_lo"),
          round((col("k_a").cast("double") / col("n_a") -
            col("k_b").cast("double") / col("n_b")) + lit(1.96) *
            sqrt(col("k_a").cast("double") / col("n_a") *
              (lit(1.0) - col("k_a").cast("double") / col("n_a")) /
              col("n_a") +
              col("k_b").cast("double") / col("n_b") *
                (lit(1.0) - col("k_b").cast("double") / col("n_b")) /
                col("n_b")), 6).as("diff_hi"))),

    // windowed skip-gram PMI: collocations within 3 positions through
    // the zero-shuffle kernel — adjacent-bigram PMI misses pairs with
    // an intervening token; true-pair-total normalization
    "q_skipgram_pmi" -> ((s, d) =>
      TextOps.skipgramPmi(t(s, d, "documents"), "text", window = 3,
        minCount = 10L, k = 20)),

    // Heaps-law vocabulary growth: per 100-doc ingest batch, new-word
    // count and cumulative vocabulary vs cumulative tokens — the corpus
    // curve that says whether a crawl is still finding new language or
    // re-crawling the same pages (flattening = diminishing returns)
    "q_vocab_growth" -> ((s, d) => {
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(expr("doc_id div 100").as("batch"),
          explode(TextOps.tokens(col("text"))).as("w"))
      val newPerBatch = toks.groupBy("w").agg(min(col("batch")).as("fb"))
        .groupBy(col("fb").as("batch")).agg(count(lit(1)).as("n_new"))
      // unpartitioned window BOUND: crawl-batch grid (one row per ingest wave)
      val w = Window.orderBy(col("batch").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.groupBy("batch").agg(count(lit(1)).as("n_tokens"))
        .join(newPerBatch, Seq("batch"), "left")
        .na.fill(0L, Seq("n_new"))
        .select(col("batch"), col("n_tokens"), col("n_new"),
          sum(col("n_new")).over(w).as("cum_vocab"),
          sum(col("n_tokens")).over(w).as("cum_tokens"))
        .orderBy("batch")
    }),

    // quantile treatment effects: the hash-arm value distributions
    // compared at each decile — a mean-only readout hides an effect
    // that lifts the tail while leaving the median alone
    "q_qte_deciles" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        .withColumn("arm",
          when(pmod(graft.ext.TextOps.fingerprint60(
              concat(col("user_id").cast("string"), lit(":ab"))),
            lit(2L)) === 0L, "A").otherwise("B"))
      val ps = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
      def qs(a: String, out: String) =
        ev.filter(col("arm") === a)
          .agg(expr(s"percentile(value, $ps)").as(out))
      qs("A", "qa").crossJoin(broadcast(qs("B", "qb")))
        .select(posexplode(arrays_zip(col("qa"), col("qb"))))
        .select(((col("pos") + 1).cast("double") / 10.0).as("p"),
          round(col("col.qa"), 6).as("q_a"),
          round(col("col.qb"), 6).as("q_b"))
        .withColumn("qte", round(col("q_a") - col("q_b"), 6))
        .orderBy("p")
    }),

    // difference-in-differences: hash arms × corpus-midpoint pre/post —
    // the parallel-trends experiment readout beside q_cuped (variance
    // reduction) and q_standardized_effect (confounder adjustment);
    // ONE conditional-aggregation pass, exact-cents means, pinned chain
    // IPW average treatment effect over event_type strata (treatment =
    // the even-user hash arm): the reweighting member of the causal
    // family beside stratification/CUPED/DiD — both the Horvitz–Thompson
    // and the Hájek (weight-normalized) estimator, non-overlap strata
    // dropped and counted, never imputed
    "q_ipw_ate" -> ((s, d) =>
      graft.ops.StatsOps.ipwAte(
        t(s, d, "events"), "event_type",
        col("user_id") % 2 === 0, "value")),

    // Poisson-bootstrap CI of the mean event value: 40 deterministic
    // hash-resampled replicates as conditional sums in ONE pass — the
    // 100 TB form of the bootstrap (classical resampling is R extra
    // shuffled scans); percentile interval as exact order statistics
    // over the replicate means
    "q_bootstrap_ci" -> ((s, d) =>
      graft.ops.StatsOps.poissonBootstrapMeanCI(
        t(s, d, "events"), "event_id", "value", replicates = 40)),

    // Markov removal-effect attribution (the data-driven multi-touch
    // model): first-order chain over each user's journey to its FIRST
    // purchase; each channel credited by how much START→CONV absorption
    // drops when its inbound transitions redirect to NULL — a channel
    // that merely co-occurs with conversions earns nothing unless paths
    // NEED it. The transition matrix is a bounded driver-side model
    // artifact; the oracle unrolls the identical 50-step recurrence
    "q_markov_attribution" -> ((s, d) =>
      TemporalOps.markovRemovalAttribution(t(s, d, "events"), "user_id",
          "ts", "event_id", "event_type", convType = "purchase", iters = 50)
        .orderBy("channel")),

    "q_did_readout" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull && col("ts").isNotNull)
        .withColumn("tsec", unix_timestamp(col("ts")))
        .withColumn("__c",
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
      val mid = ev.agg(floor((min(col("tsec")) + max(col("tsec"))) / 2.0)
        .cast("long").as("__mid"))
      val tagged = ev.crossJoin(broadcast(mid)).select(
        (pmod(graft.ext.TextOps.fingerprint60(
          concat(col("user_id").cast("string"), lit(":ab"))),
          lit(2L)) === 0L).as("__a"),
        (col("tsec") >= col("__mid")).as("__post"), col("__c"))
      def cell(a: Boolean, post: Boolean,
               c: org.apache.spark.sql.Column) =
        sum(when(col("__a") === a && col("__post") === post, c)
          .otherwise(0L))
      val m = tagged.agg(
        cell(true, false, lit(1L)).as("n_a_pre"),
        cell(true, true, lit(1L)).as("n_a_post"),
        cell(false, false, lit(1L)).as("n_b_pre"),
        cell(false, true, lit(1L)).as("n_b_post"),
        cell(true, false, col("__c")).as("__sap"),
        cell(true, true, col("__c")).as("__saq"),
        cell(false, false, col("__c")).as("__sbp"),
        cell(false, true, col("__c")).as("__sbq"))
      def mean(s: String, n: String) =
        col(s).cast("double") / col(n) / 100.0
      m.filter(col("n_a_pre") > 0 && col("n_a_post") > 0 &&
          col("n_b_pre") > 0 && col("n_b_post") > 0)
        .select(col("n_a_pre"), col("n_a_post"), col("n_b_pre"),
          col("n_b_post"),
          round(mean("__sap", "n_a_pre"), 6).as("mean_a_pre"),
          round(mean("__saq", "n_a_post"), 6).as("mean_a_post"),
          round(mean("__sbp", "n_b_pre"), 6).as("mean_b_pre"),
          round(mean("__sbq", "n_b_post"), 6).as("mean_b_post"),
          round((mean("__saq", "n_a_post") - mean("__sap", "n_a_pre")) -
            (mean("__sbq", "n_b_post") - mean("__sbp", "n_b_pre")), 6)
            .as("did"))
    }),

    // out-of-order audit: per order, steps where the ship date runs
    // BACKWARD against line-number order — the monotonicity health
    // signal that decides whether as-of joins and sessionizers can
    // trust a sequence column; worst 25 offenders, total tie order
    "q_monotonic_audit" -> ((s, d) => {
      // l_linenumber repeats within an order in this fixture — the
      // shipdate tiebreak makes the comparison chain order-invariant
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber").asc, col("l_shipdate").asc)
      t(s, d, "lineitem").filter(col("l_shipdate").isNotNull)
        .select(col("l_orderkey"),
          (col("l_shipdate") < lag(col("l_shipdate"), 1).over(w))
            .as("__back"))
        .filter(col("__back").isNotNull)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("__back"), 1L).otherwise(0L)).as("n_backward"))
        .filter(col("n_backward") > 0)
        .withColumn("backward_pct",
          round(col("n_backward").cast("double") / col("n_steps"), 6))
        .orderBy(col("backward_pct").desc, col("l_orderkey").asc)
        .limit(25)
    }),

    // seasonality strength: day-of-week variance decomposition of daily
    // order counts — SS_between/SS_total (η²) says how much of the
    // volume variance the weekly cycle explains, the WHY behind
    // q_mase's seasonal-forecast verdict; exact integer sums until the
    // final ratio
    "q_seasonality_strength" -> ((s, d) => {
      val dec38 = DecimalType(38, 0)
      val daily = t(s, d, "orders").filter(col("o_orderdate").isNotNull)
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("__n"))
        .select(dayofweek(col("day")).as("dow"), col("__n"))
      val cells = daily.groupBy("dow")
        .agg(count(lit(1)).as("__k"), sum(col("__n").cast(dec38)).as("__s"),
          sum((col("__n").cast(dec38) * col("__n"))).as("__ss"))
      // SS decomposition on exact integers scaled by N = Σk (so no
      // per-group mean division): N²·SS_b = N·Σ(s_g²·N/k) − N·(Σs)²
      // is messy — use the standard form with ONE double per term:
      // SS_between = Σ_g s_g²/k_g − (Σs)²/N, SS_total = Σss − (Σs)²/N
      val tot = cells.agg(sum(col("__k")).as("n_days"),
        sum(col("__s")).as("__st"), sum(col("__ss")).as("__sst"))
      cells.crossJoin(broadcast(tot))
        .select(col("n_days"), col("__st"), col("__sst"),
          round((col("__s") * col("__s")).cast("double") /
            col("__k"), 8).cast(DecimalType(28, 8)).as("__bg"))
        .groupBy("n_days", "__st", "__sst")
        .agg(sum(col("__bg")).as("__b"))
        .select(col("n_days"),
          round((col("__b").cast("double") -
            (col("__st") * col("__st")).cast("double") / col("n_days")) /
            ((col("__sst")).cast("double") -
              (col("__st") * col("__st")).cast("double") / col("n_days")),
            6).as("eta_sq"))
    }),

    // MASE: is the weekly pattern in daily order volume real forecasting
    // signal — seasonal-naive absolute error scaled by the plain-naive
    // baseline over the same days (< 1 = seasonality helps)
    "q_mase" -> ((s, d) =>
      graft.ops.TemporalOps.maseReport(
        t(s, d, "orders").select(col("o_orderdate").as("ts")), "ts",
        season = 7)),

    // one-to-one record linkage: Jaro-Winkler blocked pairs, then keep
    // only MUTUAL best matches — without this one golden record absorbs
    // every near-match in its block and the merge manufactures a
    // mega-entity
    "q_mutual_best_match" -> ((s, d) => {
      val names = t(s, d, "part").select(col("p_name")).distinct()
        .select(col("p_name"),
          substring_index(col("p_name"), " ", 1).as("__blk"))
      val a = names.select(col("__blk"), col("p_name").as("name_a"))
      val b = names.select(col("__blk"), col("p_name").as("name_b"))
      val pairs = a.join(b, "__blk").filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          round(graft.functions.JaroWinkler(col("name_a"),
            col("name_b")), 6).as("jw"))
        .filter(col("jw") >= 0.85)
      DedupOps.mutualBestMatch(pairs, "name_a", "name_b", "jw")
        .orderBy("name_a", "name_b")
    }),

    // deterministic per-epoch training shuffle: order by a per-epoch key
    // fingerprint — every worker reproduces the permutation with no
    // shared state, each epoch reshuffles, resume-mid-epoch is a WHERE
    // on the last key; top-50 heads of two epochs as the audit
    "q_epoch_shuffle" -> ((s, d) => {
      val docs = t(s, d, "documents")
      def epoch(n: Int) = docs
        .select(lit(n.toLong).as("epoch"), col("doc_id"),
          graft.ext.TextOps.fingerprint60(
            concat(col("doc_id").cast("string"), lit(s":epoch:$n")))
            .as("shuffle_key"))
        .orderBy(col("shuffle_key").asc, col("doc_id").asc).limit(50)
      epoch(1).unionAll(epoch(2))
        .orderBy("epoch", "shuffle_key", "doc_id")
    }),

    // Lorenz curve at deciles: share of total order value held by the
    // bottom 10%…100% — gini's curve view, exact-integer interpolation
    // inside tied-value blocks so row tie order can never matter
    "q_lorenz" -> ((s, d) =>
      graft.ops.StatsOps.lorenzCurve(
        t(s, d, "orders").select(col("o_totalprice")), "o_totalprice",
        buckets = 10)),

    // Goh-Barabási burstiness of each user's event cadence: -1 regular
    // clock, ~0 Poisson, →1 bursty — exact floored-second gaps
    "q_burstiness" -> ((s, d) =>
      graft.ops.TemporalOps.burstiness(
        t(s, d, "events"), "user_id", "ts", "event_id")),

    // funnel latency percentiles: how long view→click and click→
    // purchase take for converting users — composes the q_funnel chain
    "q_funnel_latency" -> ((s, d) => {
      val f = TemporalOps.funnel(t(s, d, "events"), "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
      f.filter(col("step_2_ts").isNotNull)
        .select(
          (unix_timestamp(col("step_2_ts")) -
            unix_timestamp(col("step_1_ts"))).as("g12"),
          when(col("step_3_ts").isNotNull,
            unix_timestamp(col("step_3_ts")) -
              unix_timestamp(col("step_2_ts"))).as("g23"))
        .agg(count(lit(1)).as("n_click"),
          round(expr("percentile(g12, 0.5)"), 4).as("p50_view_click"),
          round(expr("percentile(g12, 0.9)"), 4).as("p90_view_click"),
          count(col("g23")).as("n_purchase"),
          round(expr("percentile(g23, 0.5)"), 4).as("p50_click_purchase"),
          round(expr("percentile(g23, 0.9)"), 4).as("p90_click_purchase"))
    }),

    // odds ratio + Woolf CI + relative risk for the high-priority ×
    // fulfilled 2×2 — one aggregation pass, four conditional sums
    "q_odds_ratio" -> ((s, d) =>
      graft.ops.StatsOps.oddsRatio(
        t(s, d, "orders")
          .withColumn("exposed",
            col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .withColumn("outcome", col("o_orderstatus") === "F"),
        "exposed", "outcome")),

    // expected calibration error: the Σ n·|gap|/N scalar over the same
    // reliability bins q_calibration_bins reports — ONE number for the
    // dashboard where the bins are the diagram
    "q_ece" -> ((s, d) => {
      val bins = graft.ops.EvalOps.calibrationBins(
        t(s, d, "events")
          .withColumn("p", round(lit(1.0) /
            (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
          .withColumn("y", col("event_type") === "purchase"),
        "p", "y", bins = 10)
      bins.agg(sum(col("n")).as("n"),
          // n·|gap| is exact at 6dp — DECIMAL product+sum, no float adds
          sum(col("n").cast(DecimalType(12, 0)) *
            abs(col("gap")).cast(DecimalType(8, 6))).as("__w"))
        .select(col("n"),
          round(col("__w").cast("double") / col("n").cast("double"), 6)
            .as("ece"))
    }),

    // Kaplan-Meier user-lifetime curve: duration = first→last active
    // day, censored if still active in the corpus' final week — the
    // churn curve a naive fraction-surviving gets wrong under censoring
    "q_kaplan_meier" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val spans = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        max(date_trunc("day", col("ts"))).as("__last"))
      val maxd = spans.agg(max(col("__last")).as("__maxd"))
      val units = spans.crossJoin(broadcast(maxd))
        .select(
          datediff(col("__last"), col("__first")).cast("long")
            .as("duration"),
          (datediff(col("__maxd"), col("__last")) >= 7).as("churned"))
      graft.ops.StatsOps.kaplanMeier(units, "duration", "churned")
    }),

    // cohort LTV: cumulative revenue per user by days-since-first-
    // activity — the revenue companion of q_retention_cohorts
    "q_cohort_ltv" -> ((s, d) =>
      graft.ops.TemporalOps.cohortLtv(
        t(s, d, "events"), "user_id", "ts", "value")),

    // which cells drive the chi-square: standardized residuals
    // (o - e)/sqrt(e) per contingency cell, empty cells included
    "q_chi_residuals" -> ((s, d) =>
      graft.ops.StatsOps.chiSquareResiduals(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus")),

    // shuffle-key skew diagnosis BEFORE choosing plain/AQE/salted join:
    // per-key count distribution + the heaviest key
    "q_skew_report" -> ((s, d) =>
      graft.ops.SkewOps.skewReport(t(s, d, "lineitem"), "l_orderkey")),

    // CUPED variance-reduced A/B readout: deterministic hash arms, pre/
    // post split at the corpus time midpoint, theta from exact pooled
    // cents moments rounded BEFORE the adjustment touches doubles
    "q_cuped" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("tsec", unix_timestamp(col("ts")))
        .withColumn("__c",
          (col("value").cast(DecimalType(18, 2)) * 100).cast("long"))
        .filter(col("value").isNotNull && col("ts").isNotNull)
      val mid = ev.agg(floor((min(col("tsec")) + max(col("tsec"))) / 2.0)
        .cast("long").as("__mid"))
      val units = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(
          (sum(when(col("tsec") < col("__mid"), col("__c")).otherwise(0L))
            .cast("double") / 100.0).as("pre"),
          (sum(when(col("tsec") >= col("__mid"), col("__c")).otherwise(0L))
            .cast("double") / 100.0).as("post"))
        .withColumn("arm",
          when(pmod(graft.ext.TextOps.fingerprint60(
            concat(col("user_id").cast("string"), lit(":ab"))), lit(2L)) === 0L,
            "A").otherwise("B"))
      graft.ops.StatsOps.cupedAdjust(units, "arm", "pre", "post")
    }),

    // gaps-and-islands: per user, total active days + the longest run
    // of consecutive days (earliest such run on ties) — the streak
    // metric, via the day-index minus row-number trick
    "q_streaks" -> ((s, d) =>
      graft.ops.TemporalOps.activityStreaks(
        t(s, d, "events"), "user_id", "ts")),

    // Ed-Join fuzzy dictionary match: all part-name pairs within 2
    // edits via the q-gram prefix filter + length gate, exact
    // levenshtein verification — the dictionary stays 64 entries at
    // any SF while row-level pairs would explode quadratically
    "q_edit_pairs" -> ((s, d) =>
      graft.ext.DedupOps.editDistancePairs(
        t(s, d, "part"), "p_name", maxDistance = 2)),

    // first-order journey structure: P(next | current) from consecutive
    // event pairs per user — the matrix view the fixed-path funnel loses
    "q_transition_matrix" -> ((s, d) =>
      graft.ops.TemporalOps.transitionMatrix(
        t(s, d, "events"), "user_id", "ts", "event_type", "event_id")),

    // the k most common FULL user journeys, deterministic tie order —
    // what the first-order matrix aggregates away
    "q_top_paths" -> ((s, d) =>
      graft.ops.TemporalOps.topPaths(
        t(s, d, "events"), "user_id", "ts", "event_type", "event_id",
        k = 15)),

    // sweep-line peak concurrency over 30-min event sessions: +1/-1
    // deltas fold to a boundary-second aggregate, running sum over the
    // sorted support, earliest peak wins — the capacity-planning number
    "q_peak_concurrency" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("s", unix_timestamp(col("ts")))
        .withColumn("e", col("s") + 1800L)
      graft.ops.TemporalOps.peakConcurrency(ev, "s", "e")
    }),

    // the END-TO-END curation chain in ONE lazy DAG — quality gate →
    // normalized exact dedup → decontamination — proving the operators
    // compose without materialization barriers; Catalyst sees the whole
    // pipeline and prunes documents' unused columns at the single scan
    "q_curation_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val keepIds = TextOps.gopherFilter(docs, "doc_id", "text",
          minTokens = 20, maxTokens = 80, minStopHits = 2)
        .filter(col("keep")).select("doc_id")
      val gated = docs.join(keepIds, "doc_id")
      val keepMin = gated
        .select(col("doc_id"), md5(TextOps.normalizeText(col("text"))).as("__fp"))
        .groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val deduped = gated.join(keepMin, "doc_id")
      DedupOps.decontaminate(deduped.filter(col("doc_id") >= 20),
          "doc_id", "text", docs.filter(col("doc_id") < 20), "text", n = 3)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // time-DECAYED activity score per user (half-life 7 days from the
    // corpus max ts): the recency-weighted engagement metric — one agg,
    // no window; per-event weights rounded 6dp then decimal-summed so the
    // float exp() never feeds an order-dependent double sum
    "q_decayed_activity" -> ((s, d) => {
      val ev = t(s, d, "events")
      val ref = ev.agg(max(col("ts")).as("ref"))
      ev.join(broadcast(ref))
        .withColumn("dt_secs",
          unix_timestamp(col("ref")) - unix_timestamp(col("ts")))
        .withColumn("w",
          round(exp((-(col("dt_secs").cast("double") / 86400.0)) *
            log(lit(2.0)) / 7.0), 6).cast(DecimalType(28, 6)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("w")).cast("double").as("decayed_score"))
        .orderBy("user_id")
    }),

    // categorical-dependence audit: per-(lang, source) pointwise mutual
    // information — are sources language-specialized or independent?
    // PMI ≈ 0 everywhere ⇒ independent; exact integer count ratios
    "q_category_pmi" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.agg(count(lit(1)).as("n"))
      val cx = docs.groupBy("lang").agg(count(lit(1)).as("cx"))
      val cy = docs.groupBy("source").agg(count(lit(1)).as("cy"))
      docs.groupBy("lang", "source").agg(count(lit(1)).as("cxy"))
        .join(cx, "lang").join(cy, "source").join(broadcast(n))
        .withColumn("q", (col("cxy") * col("n")).cast("double") /
          (col("cx") * col("cy")).cast("double"))
        .select(col("lang"), col("source"), col("cxy").as("n_docs"),
          round(log(col("q")), 6).as("pmi"))
        .orderBy("lang", "source")
    }),

    // join PRE-FLIGHT: exact |orders ⋈ lineitem| cardinality + worst-key
    // fan-out from key-count aggregates alone — the go/no-go gate before
    // a blowup-prone join (counts shuffle |keys| rows, not |rows|)
    "q_join_preflight" -> ((s, d) =>
      graft.ops.JoinOps.joinPreflight(
        t(s, d, "orders"), "o_orderkey",
        t(s, d, "lineitem"), "l_orderkey")),

    // split-LEAKAGE audit: near-dup pairs whose members landed in
    // DIFFERENT train/val/test splits — the eval-contamination failure a
    // dup-unaware hash split produces (its fix: split by dup-cluster id)
    "q_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = DedupOps.minhashDedupPairs(docs, "doc_id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.9, maxBandDf = 50)
      val splits = SamplingOps.assignSplits(docs, "doc_id",
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select(col("doc_id"), col("split"))
      pairs
        .join(splits.withColumnsRenamed(
          Map("doc_id" -> "id1", "split" -> "split1")), "id1")
        .join(splits.withColumnsRenamed(
          Map("doc_id" -> "id2", "split" -> "split2")), "id2")
        .filter(col("split1") =!= col("split2"))
        .select("id1", "id2", "split1", "split2", "jaccard")
        .orderBy("id1", "id2")
    }),

    // the FIX for q_split_leakage: split by dup-CLUSTER id (connected
    // components of the dup graph), so no near-dup pair can straddle a
    // split boundary — n_leaked_pairs is structurally zero
    "q_cluster_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val root = chainStore(s, d)
      val pairs = graft.ext.ClusterStore.pairs(s, root)
      val clusters = graft.ext.ClusterStore.assignment(s, root)
      val keyed = docs.join(clusters, docs("doc_id") === clusters("id"),
          "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("skey"))
      val split = SamplingOps.assignSplits(keyed, "skey",
          Seq(("train", 80), ("val", 10), ("test", 10)))
        .select(col("doc_id"), col("split"))
      val leaked = pairs
        .join(split.withColumnsRenamed(
          Map("doc_id" -> "id1", "split" -> "split1")), "id1")
        .join(split.withColumnsRenamed(
          Map("doc_id" -> "id2", "split" -> "split2")), "id2")
        .filter(col("split1") =!= col("split2"))
        .groupBy(col("split1").as("split"))
        .agg(count(lit(1)).as("n_leaked_pairs"))
      split.groupBy("split").agg(count(lit(1)).as("n_docs"))
        .join(leaked, Seq("split"), "left")
        .na.fill(0L, Seq("n_leaked_pairs"))
        .orderBy("split")
    }),

    // minhash top-k RETRIEVAL: the k nearest corpus docs per query doc by
    // exact Jaccard, candidates from LSH band collisions; ranks on the RAW
    // score (single IEEE division of exact set sizes), rounds for display
    "q_minhash_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      DedupOps.minhashTopK(docs, "doc_id", "text",
          docs.filter(col("doc_id") < 100).select("doc_id"),
          n = 3, numHashes = 16, bands = 4, k = 5, maxBandDf = 50)
        .orderBy("query_id", "rank")
    }),

    "q_minhash_lsh_pairs" -> ((s, d) =>
      graft.ext.ClusterStore.pairs(s, minhashStore(s, d))
        .orderBy("id1", "id2")),

    // ---- [EXT] similarity search --------------------------------------------

    "q_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.cosineTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank")
    }),

    // hybrid retrieval: BM25 lexical + dense cosine top-20 lists fused by
    // reciprocal-rank fusion — rank-based, so the two score scales need no
    // normalization; both inputs are bounded top-k artifacts, the fuse
    // itself shuffles O(lists x k) rows at any corpus size
    "q_hybrid_rrf" -> ((s, d) => {
      val lex = TextOps.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          terms = Seq("dup", "join", "hash"), k = 20)
        .withColumn("rank", row_number().over(
          // unpartitioned window BOUND: k(=20)-row top-k artifact
          Window.orderBy(col("bm25").desc, col("doc_id").asc)).cast(LongType))
        .select("doc_id", "rank")
      val emb = t(s, d, "embeddings")
      val sem = SimilarityOps.cosineTopK(emb.filter(col("vec_id") === 3), emb,
          "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"),
          col("rank").cast(LongType).as("rank"))
      SimilarityOps.rrfFuse(Seq(lex, sem), "doc_id", "rank", kRrf = 60, k = 15)
        .orderBy(col("rrf_score").desc, col("doc_id").asc)
    }),

    "q_ann_bucket_hist" -> ((s, d) =>
      t(s, d, "embeddings")
        .select(SimilarityOps.signLshBucket(col("embedding"), 4, 8).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // approximate top-k: LSH-bucketed candidate join + exact re-score
    "q_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.annTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 5, nBits = 4, stride = 8)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank")
    }),

    // IVF top-k: centroid cells assigned narrowly (model-as-literals, zero
    // shuffle), scoring only within the query's cell
    "q_ivf_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      SimilarityOps.ivfTopK(
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), emb, cents,
        "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank")
    }),

    // the PERSISTED-index face of q_ivf_topk (AnnIndexStore): probed
    // cells arrive as a literal partition filter, so the scan physically
    // skips unprobed cell= directories; results are bit-identical to the
    // in-memory operator at equal parameters, so the oracle is shared
    "q_ann_store_topk" -> ((s, d) =>
      graft.ext.AnnIndexStore.topK(s, annStore(s, d),
          t(s, d, "embeddings")
            .filter(col("vec_id") >= 10 && col("vec_id") < 20),
          "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("query_id", "rank")),

    // the persisted IVFADC tier at its provable fixed point: full probe +
    // unpruned candidates hands the whole corpus to the exact rerank, so
    // the store-backed PQ path must recover the exact top-k — the stored
    // codes' coarse phase reads m bytes/row (column pruning), never the
    // raw vectors (bound-based oracle, the q_ivfpq_topk scheme)
    "q_ann_store_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      val exact = SimilarityOps.cosineTopK(queries, emb,
          "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id")
      graft.ext.AnnIndexStore.topKPq(s, annPqStore(s, d), queries,
          "vec_id", "embedding", k = 5, nprobe = 8, candidates = 100000)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
        .select(col("query_id"), (col("n_hit") === 5L).as("recall_exact"))
        .orderBy("query_id")
    }),

    // index-health audit of the persisted IVF store: per-cell member
    // counts and shares — drift concentrates new rows in few cells until
    // probing them IS a corpus scan; this is the measured "time to
    // retrain+swap" signal (AnnIndexStore.retrain)
    "q_ann_cell_balance" -> ((s, d) =>
      graft.ext.AnnIndexStore.cellSizes(s, annStore(s, d))
        .orderBy("cell")),

    // HYBRID retrieval entirely off persisted artifacts: BM25 ranks from
    // the postings index (LexIndexStore, bucket-pruned) fused via RRF
    // with cosine ranks from the IVF index at full probe (nprobe = cells
    // ⇒ exact top-k — the recall audit's provable fixed point). The
    // whole query path never touches raw documents or embeddings.
    "q_hybrid_store_rrf" -> ((s, d) => {
      import s.implicits._
      val qt = Seq((0L, "dup"), (0L, "join"), (0L, "hash"))
        .toDF("qid", "term")
      val lex = graft.ext.LexIndexStore.topK(s, lexStore(s, d), qt, k = 20)
        .select(col("doc_id"), col("rnk").as("rank"))
      val sem = graft.ext.AnnIndexStore.topK(s, annStore(s, d),
          t(s, d, "embeddings").filter(col("vec_id") === 3),
          "vec_id", "embedding", k = 20, nprobe = 8)
        .select(col("neighbor_id").as("doc_id"),
          col("rank").cast(LongType).as("rank"))
      SimilarityOps.rrfFuse(Seq(lex, sem), "doc_id", "rank",
          kRrf = 60, k = 15)
        .orderBy(col("rrf_score").desc, col("doc_id").asc)
    }),

    // k-NN label vote: each query takes the majority label of its 5
    // nearest labeled-seed neighbors (ties → more votes, then smaller
    // label) — label propagation by embedding proximity, the model-free
    // complement of q_nb_classify
    "q_knn_classify" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.knnClassify(
          emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") >= 100),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    }),

    // the kNN router's confusion matrix over a labeled held-out slice —
    // the eval face of q_knn_classify (the nbConfusion analog)
    "q_knn_confusion" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 50)
      SimilarityOps.knnClassify(queries, emb.filter(col("vec_id") >= 100),
          "vec_id", "embedding", "label", k = 5)
        .join(queries.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), "query_id")
        .groupBy("true_label", "predicted_label")
        .agg(count(lit(1)).as("n"))
        .orderBy("true_label", "predicted_label")
    }),

    // typicality selection: the 2 best-fitting members of every IVF cell
    // (highest cosine to their own centroid) — cluster exemplars for
    // labeling seeds / human review / coreset stand-ins
    "q_cell_prototypes" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      SimilarityOps.cellPrototypes(emb, cents, "vec_id", "embedding", m = 2)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("cell", "rank")
    }),

    // the complement: the 10 corpus rows the centroid model explains
    // WORST (lowest cosine to their nearest centroid) — novel topics /
    // encoder failures / between-cluster garbage; the row-level half of
    // the q_ann_cell_balance retrain signal
    "q_embedding_outliers" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      SimilarityOps.embeddingOutliers(emb, cents, "vec_id", "embedding",
          k = 10)
        .orderBy(col("score").asc, col("vec_id").asc)
    }),

    // embedding-space distribution drift between two snapshot waves over
    // a FROZEN cell model: per-cell population PSI (the q_drift_psi
    // statistic lifted into semantic space) — says WHERE the new wave's
    // mass moved, the retrain/remix trigger
    "q_embedding_drift" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      SimilarityOps.embeddingDriftPsi(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          cents, "vec_id", "embedding")
        .orderBy("bucket")
    }),

    // Fellegi–Sunter record-linkage scoring: within-block candidate
    // pairs earn a log-likelihood match score — agreement on a RARE
    // field (frequency-estimated u) is worth far more than on a common
    // one; score > 0 ≈ likelier-than-chance match
    "q_linkage_scores" -> ((s, d) => {
      val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"),
        col("p_size"), col("p_type"),
        split(col("p_name"), " ").getItem(0).as("p_w1"))
      DedupOps.linkageScores(p, "p_partkey", Seq("p_brand", "p_size"),
          Seq("p_type", "p_w1"), m = 0.9, maxBlockSize = 1000)
        .orderBy("id1", "id2")
    }),

    // contrastive training-pair mining: per anchor, its best same-cell
    // partner at cosine ≥ 0.3 (positive) × up to 2 HARD negatives in
    // [0.15, 0.3) from a 64-row deterministic per-cell pool — the
    // (anchor, pos, neg) triplets an embedding trainer consumes
    "q_contrastive_pairs" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      SimilarityOps.contrastivePairs(emb, cents, "vec_id", "embedding",
          posThreshold = 0.3, negLo = 0.15, negHi = 0.3,
          maxNegs = 2, poolSize = 64)
        .withColumn("neg_rank", col("neg_rank").cast(LongType))
        .orderBy("anchor_id", "neg_rank")
    }),

    // multi-probe IVF: recall against the exact top-k is provably monotone
    // in nprobe (candidate sets nest: any exact-top-k member among the
    // candidates always survives to the IVF top-k), so the bound-based
    // oracle is a literal TRUE per query — same scheme as q_approx_distinct
    "q_ivf_topk_probe2" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      val exact = SimilarityOps.cosineTopK(emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), emb,
        "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
      def hits(nprobe: Int) =
        SimilarityOps.ivfTopK(queries, emb, cents, "vec_id", "embedding",
            k = 5, nprobe = nprobe)
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n"))
      val h1 = hits(1).withColumnRenamed("n", "n1")
      val h2 = hits(2).withColumnRenamed("n", "n2")
      queries.select(col("vec_id").as("query_id"))
        .join(h1, Seq("query_id"), "left").join(h2, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n2"), lit(0L)) >= coalesce(col("n1"), lit(0L)))
            .as("recall_monotone"))
        .orderBy("query_id")
    }),

    // embedding-cosine near-duplicate pairs within LSH buckets
    "q_embedding_near_dups" -> ((s, d) =>
      SimilarityOps.cosineNearDupPairs(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.4, nBits = 4, stride = 8)
        .orderBy("id1", "id2")),

    // first-class semantic dedup (SemDeDup shape): embedding near-dup
    // pairs → connected components → keep the min-id member per cluster;
    // output = the deduplicated corpus with cluster sizes
    "q_semantic_dedup" -> ((s, d) =>
      SimilarityOps.semanticDedupByAssignment(t(s, d, "embeddings"),
          "vec_id", graft.ext.ClusterStore.assignment(s, semanticStore(s, d)))
        .select(col("vec_id"), col("label").cast(LongType).as("label"),
          col("n_members"))
        .orderBy("vec_id")),

    // int8 symmetric quantization: 4× embedding compression for ANN scans;
    // the oracle recomputes scale/checksum and stipulates the per-element
    // reconstruction bound (0.5/scale, guaranteed by construction)
    "q_embedding_quantize" -> ((s, d) => {
      val q = SimilarityOps.quantizeInt8(t(s, d, "embeddings"),
        "vec_id", "embedding")
      q.join(t(s, d, "embeddings"), "vec_id")
        .select(col("vec_id"),
          round(col("q_scale"), 6).as("q_scale"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"),
          (array_max(zip_with(col("qvec"), col("embedding"),
            (qv, x) => abs(qv.cast("double") / col("q_scale") - x.cast("double"))))
            <= lit(0.5) / col("q_scale") + lit(1e-12)).as("err_in_bound"))
        .orderBy("vec_id")
    }),

    // product quantization: per-subspace spherical-k-means codebooks,
    // m=8 × 16 codes over 64 dims → 8 small codes per vector (the ANN
    // memory step). Bound-based oracle (codebooks are data-dependent, so
    // SQL can't retrain them): codes in range + reconstruction keeps mean
    // cosine ≥ 0.5 (the noisy synthetic embeddings land ~0.66; a 1-code
    // codebook lands ~0) — DuckDB stipulates the booleans, the count is real
    "q_pq_quantize" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cbs = embPqCodebooks(s, d)
      SimilarityOps.pqEncode(emb, "vec_id", "embedding", cbs)
        .join(emb, "vec_id")
        .select(col("vec_id"), col("pq_codes"),
          SimilarityOps.cosineNative(col("embedding"),
            SimilarityOps.pqReconstruct(col("pq_codes"), cbs)).as("cos"))
        .agg(count(lit(1)).as("n_vectors"),
          (min(array_min(col("pq_codes"))) >= 0 &&
            max(array_max(col("pq_codes"))) < 16).as("codes_in_range"),
          (avg(col("cos")) >= 0.5).as("recon_ok"))
    }),

    // PQ coarse-score → full-precision re-rank: recall vs the exact top-k
    // is provably MONOTONE in the candidate budget (the coarse heap's
    // candidate set is nested as it grows) — the oracle stipulates the
    // boolean, the engine computes it for candidates 10 vs 25
    "q_pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cbs = embPqCodebooks(s, d)
      val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      val exact = SimilarityOps.cosineTopK(queries, emb,
        "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
      def hits(c: Int) =
        SimilarityOps.pqRerankTopK(queries, emb, cbs, "vec_id", "embedding",
            k = 5, candidates = c)
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n"))
      val h1 = hits(10).withColumnRenamed("n", "n10")
      val h2 = hits(25).withColumnRenamed("n", "n25")
      queries.select(col("vec_id").as("query_id"))
        .join(h1, Seq("query_id"), "left").join(h2, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("n25"), lit(0L)) >= coalesce(col("n10"), lit(0L)))
            .as("recall_monotone"))
        .orderBy("query_id")
    }),

    // fused IVF+PQ (IVFADC): coarse-score only the probed cells' PQ codes,
    // exact re-rank of the bounded candidate set. Recall is provably
    // monotone in nprobe (probed-cell union nests; candidates=2000 unbinds
    // the cap at every SF so the final set is the exact top-k within the
    // union) AND in candidates (the coarse heap's kept set is a nested
    // prefix under its deterministic order) — the oracle stipulates both
    // booleans, the engine computes them
    "q_ivfpq_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      val cbs = embPqCodebooks(s, d)
      val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      val exact = SimilarityOps.cosineTopK(queries, emb,
        "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
      def hits(nprobe: Int, cand: Int, alias: String) =
        SimilarityOps.ivfPqTopK(queries, emb, cents, cbs, "vec_id",
            "embedding", k = 5, nprobe = nprobe, candidates = cand)
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as(alias))
      val p1 = hits(1, 2000, "np1")
      val p2 = hits(2, 2000, "np2")
      val c1 = hits(2, 10, "nc10")
      val c2 = hits(2, 25, "nc25")
      queries.select(col("vec_id").as("query_id"))
        .join(p1, Seq("query_id"), "left").join(p2, Seq("query_id"), "left")
        .join(c1, Seq("query_id"), "left").join(c2, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("np2"), lit(0L)) >= coalesce(col("np1"), lit(0L)))
            .as("probe_monotone"),
          (coalesce(col("nc25"), lit(0L)) >= coalesce(col("nc10"), lit(0L)))
            .as("cand_monotone"))
        .orderBy("query_id")
    }),

    // measured IVF operating curve: recall@5 vs exact cosine truth per
    // nprobe — the ABSOLUTE numbers a user tuning nprobe reads (the
    // monotone oracles bound only relative behavior); the oracle replays
    // assignment, multi-probe, in-cell top-k and the recall division
    "q_ann_recall_audit" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      SimilarityOps.annRecallAudit(
          emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), emb, cents,
          Nil, "vec_id", "embedding", k = 5,
          grid = Seq((1, 0), (2, 0), (4, 0), (8, 0)))
        .orderBy("nprobe")
    }),

    // the IVF+PQ tier's recall audit, bound-based (codebooks are trained,
    // so SQL can't replay the numbers): measured recall stays in [0,1] at
    // pruned budgets and is EXACTLY 1.0 at full probe + unpruned
    // candidates, where the coarse tier passes the whole corpus to the
    // exact rerank — the curve's provable fixed point
    "q_ann_recall_audit_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = embCentroids(s, d)
      val cbs = embPqCodebooks(s, d)
      SimilarityOps.annRecallAudit(
          emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), emb, cents,
          cbs, "vec_id", "embedding", k = 5,
          grid = Seq((1, 10), (2, 25), (8, 100000)))
        .select(col("nprobe"), col("candidates"), col("n_true"),
          (col("recall") >= 0.0 && col("recall") <= 1.0).as("recall_in_range"),
          (col("nprobe") < 8 || col("recall") === 1.0).as("full_recall_one"))
        .orderBy("nprobe")
    }),

    // embedding cluster-health report: per-label member count + mean/min
    // cosine to the label centroid (collapsed/polluted cluster detector)
    "q_label_dispersion" -> ((s, d) =>
      SimilarityOps.labelDispersion(t(s, d, "embeddings"), "label",
          "embedding", dim = 64)
        .select(col("label").cast(LongType).as("label"), col("n"),
          col("mean_cos"), col("min_cos"))
        .orderBy("label")),

    // Johnson-Lindenstrauss 64→8 sign projection: deterministic md5-parity
    // matrix baked as literals, decimal-folded components — zero shuffle
    "q_random_projection" -> ((s, d) =>
      SimilarityOps.randomProject(t(s, d, "embeddings"), "vec_id",
        "embedding", dIn = 64, dOut = 8)
        .orderBy("vec_id", "j")),

    // distribution drift (PSI) between the first and second half of the
    // event stream, over fixed-width value buckets
    "q_drift_psi" -> ((s, d) => {
      val ev = t(s, d, "events")
      QualityCheck.driftPsi(
          ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast(TimestampType)),
          ev.filter(col("ts") >= lit("2024-01-15 00:00:00").cast(TimestampType)),
          floor(col("value") / 50).cast(LongType))
        .orderBy("bucket")
    }),

    // typed UDAF: element-wise vector mean per label (k-means centroid step)
    "q_vector_mean_by_label" -> ((s, d) => {
      val vm = udaf(new graft.functions.VectorAggregators.VectorMean(8))
      t(s, d, "embeddings")
        .select(col("label"), slice(col("embedding"), 1, 8).as("v8"))
        .groupBy(col("label").cast(LongType).as("label"))
        .agg(vm(col("v8")).as("m"))
        .select(col("label") +:
          (1 to 8).map(i => round(element_at(col("m"), i), 6).as(s"m$i")): _*)
        .orderBy("label")
    }),

    // vector norms / dims — embedding column algebra
    "q_vector_norm" -> ((s, d) =>
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        round(SimilarityOps.norm(col("embedding")), 6).as("l2_norm"),
        round(SimilarityOps.dot(col("embedding"), col("embedding")), 4).as("self_dot"))
        .orderBy("vec_id")),

    // ---- temporal operators --------------------------------------------------

    // as-of join: each purchase matched to the user's most recent prior click
    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      TemporalOps.asofJoin(purchases, clicks, "user_id", "ts", "ts",
          "event_id", Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_event_id").as("click_id"), col("asof_ts").as("click_ts"))
        .orderBy("event_id")
    }),

    // keyless point-in-interval join via the custom plan stack (logical
    // IntervalJoin + rewrite Rule + Strategy + broadcast binary-search
    // SparkPlan) — vanilla Spark would plan this BroadcastNestedLoopJoin
    "q_calendar_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("ts"), col("value"))
      val iv = s.range(0, 30).select(
        col("id").as("window_id"),
        expr("TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '16' HOUR").as("w_start"),
        expr("TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '16' HOUR + INTERVAL '12' HOUR").as("w_end"))
      TemporalOps.pointInIntervalJoin(ev, iv, "ts", "w_start", "w_end")
        .groupBy("window_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
        .orderBy("window_id")
    }),

    // interval (range) join: purchases to same-user clicks in the prior hour
    "q_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
          col("ts").as("click_ts"))
      p.join(c,
          col("user_id") === col("c_user_id") &&
            col("click_ts") <= col("purchase_ts") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 60 MINUTES"))
        .select("purchase_id", "click_id", "user_id")
        .orderBy("purchase_id", "click_id")
    }),

    // sessionization: gap-based session assignment + per-session rollup
    "q_sessionize" -> ((s, d) =>
      TemporalOps.sessionStats(t(s, d, "events"), "user_id", "ts", "event_id",
          gapSeconds = 3600L)
        .orderBy("user_id", "session_id")),

    // telemetry debounce: keep only the first event of every sub-4h
    // burst per user (suppressed events still reset the timer) — click
    // storms and duplicate beacons collapse to one representative row
    "q_debounce" -> ((s, d) =>
      TemporalOps.debounce(t(s, d, "events"), "user_id", "ts", "event_id",
          gapSeconds = 14400L)
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")),

    // Spark-native session_window in batch mode (gap-merged sessions);
    // oracle rebuilds the same semantics via lag + running sum
    "q_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n"))
        .orderBy("user_id", "s_start")),

    // lag/lead over per-customer order history
    "q_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast(LongType).as("days_since_prev"))
        .orderBy("o_orderkey")
    }),

    // sliding window frame: moving avg/sum/count over last 4 events per user
    "q_moving_window" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc).rowsBetween(-3, 0)
      t(s, d, "events").select(
        col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 4).as("mv_avg"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("mv_sum"),
        count(lit(1)).over(w).as("mv_n"))
        .orderBy("event_id")
    }),

    // interval union (gaps-and-islands): each event opens a 30-min activity
    // interval; overlapping intervals merge and total covered seconds are
    // reported per user — running-max window + island id + one agg
    "q_interval_union" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("s").asc, col("e").asc, col("event_id").asc)
      val prevMaxEnd = max(col("e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val island = sum(when(prevMaxEnd.isNull || col("s") > prevMaxEnd, 1L)
        .otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
      t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("long").as("s"),
          (col("ts").cast("long") + 1800L).as("e"))
        .withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(min(col("s")).as("i_start"), max(col("e")).as("i_end"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("i_end") - col("i_start")).as("covered_s"))
        .orderBy("user_id")
    }),

    // ratio-to-report window: each customer's share of its nation's
    // account balance total (window sum, no self-join)
    "q_ratio_to_report" -> ((s, d) => {
      val w = Window.partitionBy("c_nationkey")
      t(s, d, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        // exact decimal sum → double division (decimal/decimal division
        // scale rules differ across engines; double-over-exact does not)
        round(col("c_acctbal").cast(DecimalType(18, 2)).cast("double") /
          sum(col("c_acctbal").cast(DecimalType(18, 2))).over(w)
            .cast("double"), 8).as("share"))
        .orderBy("c_custkey")
    }),

    // SCD Type-2 history: each customer's order-priority change stream
    // collapsed into versioned validity ranges — the warehouse form of the
    // reference's history-overwriting upsert (CdcOps.scd2History)
    "q_scd2_history" -> ((s, d) =>
      graft.ops.CdcOps.scd2History(t(s, d, "orders"),
          "o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
        .orderBy("o_custkey", "version")),

    // snapshot diff (CDC extract): per-customer order aggregates at two
    // cutoffs → inserts/updates with per-column change attribution
    "q_snapshot_diff" -> ((s, d) => {
      def snap(cut: String) = t(s, d, "orders")
        .filter(col("o_orderdate") < lit(cut).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total_spend"))
      graft.ops.CdcOps.snapshotDiff(
          snap("1999-01-01"), snap("2000-01-01"), "o_custkey")
        .orderBy("o_custkey")
    }),

    // 2-D skyline / Pareto frontier: parts not dominated on
    // (cheaper price, larger size) — two-phase distributed skyline
    "q_skyline" -> ((s, d) =>
      graft.ops.StatsOps.skyline2D(
          t(s, d, "part").select(col("p_partkey"),
            round(col("p_retailprice") * 100).cast(LongType)
              .as("price_cents"),
            col("p_size").cast(LongType).as("p_size")),
          "price_cents", "p_size")
        .orderBy("p_partkey")),

    // per-group winsorization: clip event values to their event-type's
    // exact [p05, p95] band — the QC repair action
    "q_winsorize" -> ((s, d) =>
      graft.ops.StatsOps.winsorize(
          t(s, d, "events").select("event_id", "event_type", "value"),
          "event_type", "value", 0.05, 0.95)
        .select(col("event_id"), col("event_type"), col("value"),
          col("value_w"))
        .orderBy("event_id")),

    // mergeable-sketch rollup: per-day HLL sketches of distinct users
    // union to a per-type total WITHOUT re-scanning events — the
    // incremental distinct-count shape (bound-based oracle)
    "q_sketch_rollup" -> ((s, d) => {
      val ev = t(s, d, "events")
      val daily = ev
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val rolled = daily.groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          count(lit(1)).as("n_days"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      rolled.join(exact, "event_type")
        .select(col("event_type"), col("n_days"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.05).as("within_5pct"))
        .orderBy("event_type")
    }),

    // mergeable QUANTILE sketch — the percentile sibling of
    // q_sketch_rollup's HLL: per-type p50/p90 estimated from a
    // 1024-sample bottom-k-by-hash sketch (bit-deterministic under any
    // merge order), audited against the exact CDF: |rank(est)/n − p| ≤
    // 0.05 (bound-based oracle)
    "q_quantile_sketch" -> ((s, d) => {
      val ev = t(s, d, "events")
      val sk = graft.ops.SketchOps.sketch(ev, "event_id", "value",
        Seq("event_type"), k = 1024)
      val est = Seq(0.5, 0.9).map(p => sk.select(col("event_type"),
          lit(p).as("p"),
          graft.ops.SketchOps.sketchQuantile(col("sk_pairs"), p).as("est")))
        .reduce(_ unionByName _)
      graft.ops.SketchOps.rankErrorAudit(ev, "value", Seq("event_type"),
          est, eps = 0.05)
        .join(sk.select(col("event_type"), col("sk_n").as("n_rows")),
          "event_type")
        .select(col("event_type"), col("p"), col("n_rows"),
          col("within_eps"))
        .orderBy("event_type", "p")
    }),

    // quantile-sketch ROLLUP: per-(type, day) sketches merged to per-type
    // WITHOUT re-scanning events — and because "bottom-k of a union ==
    // bottom-k of the bottom-ks", the merged sketch is BIT-IDENTICAL to a
    // direct corpus sketch (checked in-query), not merely within
    // tolerance; the p50 estimate is then CDF-audited like
    // q_quantile_sketch
    "q_quantile_rollup" -> ((s, d) => {
      val ev = t(s, d, "events")
      val daily = graft.ops.SketchOps.sketch(
        ev.withColumn("day", date_trunc("day", col("ts"))),
        "event_id", "value", Seq("event_type", "day"), k = 1024)
      val merged = graft.ops.SketchOps.mergeSketches(daily,
        Seq("event_type"), k = 1024)
      val direct = graft.ops.SketchOps.sketch(ev, "event_id", "value",
        Seq("event_type"), k = 1024)
      val est = merged.select(col("event_type"), lit(0.5).as("p"),
        graft.ops.SketchOps.sketchQuantile(col("sk_pairs"), 0.5).as("est"))
      val audit = graft.ops.SketchOps.rankErrorAudit(ev, "value",
        Seq("event_type"), est, eps = 0.05)
      val eq = merged
        .select(col("event_type"), col("sk_n").as("mn"),
          col("sk_pairs").as("mp"))
        .join(direct.select(col("event_type"), col("sk_n").as("dn"),
          col("sk_pairs").as("dp")), "event_type")
        .select(col("event_type"), (col("mn") === col("dn") &&
          col("mp") === col("dp")).as("rollup_equals_direct"))
      val days = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      audit.join(eq, "event_type").join(days, "event_type")
        .join(merged.select(col("event_type"), col("sk_n").as("n_rows")),
          "event_type")
        .select(col("event_type"), col("n_days"), col("n_rows"),
          col("within_eps"), col("rollup_equals_direct"))
        .orderBy("event_type")
    }),

    // cross-source VOCABULARY overlap on KMV sketches: which crawl
    // domains share wordlists (template/mirror detection at the vocab
    // level) — per-source token-set sketches, per-pair array intersects;
    // exacts alongside, estimate bound-checked (q_kmv_overlap scheme)
    "q_vocab_overlap" -> ((s, d) => {
      val k = 256
      val toks = t(s, d, "documents").filter(col("text").isNotNull)
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
      val sk = graft.ops.SketchOps.setSketch(toks, "tok", Seq("source"), k)
      val est = sk.select(col("source").as("src_a"),
          col("kmv_hashes").as("ha"))
        .join(sk.select(col("source").as("src_b"),
          col("kmv_hashes").as("hb")), col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          graft.ops.SketchOps.kmvJaccard(col("ha"), col("hb"), k)
            .as("est_j"))
      val dv = toks.distinct()
      val nd = dv.groupBy("source").agg(count(lit(1)).as("nd"))
      val inter = dv.as("a").join(dv.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("exact_inter"))
      est
        .join(nd.select(col("source").as("src_a"), col("nd").as("na")),
          "src_a")
        .join(nd.select(col("source").as("src_b"), col("nd").as("nb")),
          "src_b")
        .join(inter, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          (col("na") + col("nb") - coalesce(col("exact_inter"), lit(0L)))
            .as("exact_union"), col("est_j"))
        .withColumn("exact_jacc",
          round(col("exact_inter").cast("double") / col("exact_union"), 6))
        .select(col("src_a"), col("src_b"), col("exact_inter"),
          col("exact_union"), col("exact_jacc"),
          (abs(col("est_j") - col("exact_jacc")) <= 0.1).as("jacc_ok"))
        .orderBy("src_a", "src_b")
    }),

    // KMV set-sketch overlap: how many customers do consecutive order
    // years SHARE — per-year bottom-k-distinct-hash sketches, then a
    // per-row array intersect; exacts are emitted alongside and the
    // estimates are bound-checked (the q_approx_distinct oracle scheme:
    // booleans stipulated TRUE, exact values hash-compared)
    "q_kmv_overlap" -> ((s, d) => {
      val k = 256
      val o = t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_custkey"))
      val sk = graft.ops.SketchOps.setSketch(o, "o_custkey", Seq("yr"), k)
      val skPairs = sk.select(col("yr").as("yr_a"), col("kmv_hashes").as("ha"))
        .join(sk.select((col("yr") - 1).as("yr_a"),
          col("kmv_hashes").as("hb")), "yr_a")
      // exact distinct + overlap via one distinct pass and a year+1 self-join
      val dv = o.distinct()
      val ex = dv.groupBy("yr").agg(count(lit(1)).as("nd"))
      val inter = dv.select(col("yr").as("yr_a"), col("o_custkey"))
        .join(dv.select((col("yr") - 1).as("yr_a"), col("o_custkey")),
          Seq("yr_a", "o_custkey"))
        .groupBy("yr_a").agg(count(lit(1)).as("exact_inter"))
      val est = skPairs.select(col("yr_a"),
        graft.ops.SketchOps.kmvJaccard(col("ha"), col("hb"), k).as("est_j"),
        graft.ops.SketchOps.kmvDistinct(
          slice(array_sort(array_union(col("ha"), col("hb"))), 1, k), k)
          .as("est_u"))
      est
        .join(ex.select(col("yr").as("yr_a"), col("nd").as("na")), "yr_a")
        .join(ex.select((col("yr") - 1).as("yr_a"), col("nd").as("nb")),
          "yr_a")
        .join(inter, Seq("yr_a"), "left")
        .select(col("yr_a"), (col("yr_a") + 1).as("yr_b"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"),
          (col("na") + col("nb") - coalesce(col("exact_inter"), lit(0L)))
            .as("exact_union"),
          col("est_j"), col("est_u"))
        .withColumn("exact_jacc",
          round(col("exact_inter").cast("double") / col("exact_union"), 6))
        .select(col("yr_a"), col("yr_b"), col("exact_inter"),
          col("exact_union"), col("exact_jacc"),
          (abs(col("est_j") - col("exact_jacc")) <= 0.1).as("jacc_ok"),
          (abs(col("est_u") - col("exact_union")) <=
            col("exact_union") * 0.2).as("union_ok"))
        .orderBy("yr_a")
    }),

    // the set-sketch MERGE face: monthly customer sketches merged to the
    // year equal the direct yearly sketch BIT-identically — the members
    // OVERLAP across months (a repeat customer counts once), exactly
    // where the additive quantile-sketch rollup would double-count;
    // distinct estimate bound-checked against the exact count
    "q_kmv_rollup" -> ((s, d) => {
      val k = 256
      val o = t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"), col("o_custkey"))
      val monthly = graft.ops.SketchOps.setSketch(o, "o_custkey",
        Seq("yr", "mo"), k)
      val merged = graft.ops.SketchOps.mergeSetSketches(monthly,
        Seq("yr"), k)
      val direct = graft.ops.SketchOps.setSketch(o, "o_custkey",
        Seq("yr"), k)
      val ex = o.select("yr", "o_custkey").distinct()
        .groupBy("yr").agg(count(lit(1)).as("exact_distinct"))
      val months = monthly.groupBy("yr").agg(count(lit(1)).as("n_months"))
      merged.select(col("yr"), col("kmv_hashes").as("mh"))
        .join(direct.select(col("yr"), col("kmv_hashes").as("dh")), "yr")
        .join(ex, "yr").join(months, "yr")
        .select(col("yr"), col("n_months"), col("exact_distinct"),
          (col("mh") === col("dh")).as("rollup_equals_direct"),
          (abs(graft.ops.SketchOps.kmvDistinct(col("mh"), k) -
            col("exact_distinct")) <= col("exact_distinct") * 0.2)
            .as("within_eps"))
        .orderBy("yr")
    }),

    // per-node triangle counts (degree-orientation wedge join) over the
    // persisted rare-shingle dup-EVIDENCE graph — shared-template cliques
    // are exactly where triangles concentrate
    "q_triangle_counts" -> ((s, d) =>
      graft.ops.GraphOps.triangleCounts(
          graft.ext.ClusterStore.pairs(s, evidenceStore(s, d)), "id1", "id2")
        .orderBy("node")),

    // per-source language entropy + evenness: the "is this crawl domain
    // monolingual" corpus-balance audit (entropy weighs category
    // membership where gini weighs a quantity)
    "q_source_lang_entropy" -> ((s, d) =>
      graft.ops.StatsOps.categoricalEntropy(t(s, d, "documents"),
          "source", "lang")
        .orderBy("source")),

    // CR-10 concentration ratio: the share of each priority's total
    // order value held by its 10 largest orders — gini's headline-number
    // sibling (one interpretable share instead of a coefficient)
    "q_top_share" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("__x").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          graft.ops.StatsOps.cents(col("o_totalprice")).as("__x"))
        .filter(col("__x").isNotNull)
        .withColumn("__rn", row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("__x").cast(DecimalType(28, 0))).as("__tot"),
          sum(when(col("__rn") <= 10, col("__x")).otherwise(0L)
            .cast(DecimalType(28, 0))).as("__top"))
        .select(col("o_orderpriority"), col("n"),
          (col("__tot").cast("double") / 100).as("total"),
          when(col("__tot") === 0, lit(0.0))
            .otherwise(round(col("__top").cast("double") /
              col("__tot").cast("double"), 6)).as("top10_share"))
        .orderBy("o_orderpriority")
    }),

    // Gini concentration per priority class: how unevenly order value
    // is distributed — the "do five customers carry this segment" /
    // "do three domains dominate the corpus" number
    "q_gini" -> ((s, d) =>
      graft.ops.StatsOps.gini(t(s, d, "orders"), "o_orderpriority",
          "o_totalprice")
        .orderBy("o_orderpriority")),

    // time-weighted average value per user: each sample weighted by how
    // long it stayed current — the TWAP/telemetry-gauge mean the naive
    // row average misstates on irregular samples
    "q_twap" -> ((s, d) =>
      TemporalOps.timeWeightedAvg(t(s, d, "events"), "user_id", "ts",
          "value", "event_id")
        .orderBy("user_id")),

    // market-basket LIFT: which part categories co-occur in one order
    // beyond chance — lift = P(a,b)/(P(a)P(b)) over order baskets, the
    // transactional sibling of q_pmi_collocations; within-order pairs
    // only (baskets are small), all-integer counts into one division
    "q_basket_lift" -> ((s, d) => {
      // shared persisted (order, category) incidences — built once per
      // sf dir and read four times below instead of four scan+join+
      // distinct recomputes (the slowest-query fix, NOTES_r14)
      val li = orderPtypeBaskets(s, d)
      val single = li.groupBy("ptype").agg(count(lit(1)).as("na"))
      val tot = li.select("ok").distinct().agg(count(lit(1)).as("n"))
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.ptype") < col("b.ptype"))
        .groupBy(col("a.ptype").as("t1"), col("b.ptype").as("t2"))
        .agg(count(lit(1)).as("nab"))
        .join(single.select(col("ptype").as("t1"), col("na")), "t1")
        .join(single.select(col("ptype").as("t2"), col("na").as("nb")), "t2")
        .crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("nab"),
          round((col("nab") * col("n")).cast("double") /
            (col("na") * col("nb")), 6).as("lift"))
        .orderBy("t1", "t2")
    }),

    // RFM segmentation: per-customer recency/frequency/monetary rollup
    // + deterministic ntile(5) scores (ties broken by custkey, 5 = best
    // on every axis) — the classic CRM cut. Windows rank the CUSTOMER
    // aggregate (not orders); at extreme customer counts the quintile
    // bounds come from approx_percentile + a broadcast filter instead
    // (the percentileKeepApprox pattern)
    "q_rfm" -> ((s, d) => {
      val base = rfmBase(s, d)
      // exact NTILE quintiles via the DISTRIBUTED multi-order rank
      // kernel (StatsOps.distributedNtiles): a bare ntile-over-global-
      // order window funnels the whole per-customer aggregate
      // (corpus-scaled) through one task — the q_spearman class of scale
      // bug. The kernel ranks all three orderings in one linear
      // range-bucketed window chain with literal tile arithmetic
      graft.ops.StatsOps.distributedNtiles(base, 5, Seq(
          ("recency_days", true, "o_custkey", "r_score"),
          ("frequency", false, "o_custkey", "f_score"),
          ("monetary", false, "o_custkey", "m_score")))
        .select("o_custkey", "recency_days", "frequency", "monetary",
          "r_score", "f_score", "m_score")
        .orderBy("o_custkey")
    }),

    // incremental aggregate-view maintenance: merge a batch delta into a
    // persisted per-customer rollup — row-identical to the full recompute
    "q_incremental_agg" -> ((s, d) => {
      def agg0(df: DataFrame) = df.groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(18, 2)).as("total_spend"))
      val o = t(s, d, "orders")
      val cut = lit("1999-01-01").cast("timestamp")
      graft.ops.CdcOps.mergeAggState(
          agg0(o.filter(col("o_orderdate") < cut)),
          agg0(o.filter(col("o_orderdate") >= cut)), Seq("o_custkey"))
        .select(col("o_custkey"), col("n_orders"),
          col("total_spend").cast("double"))
        .orderBy("o_custkey")
    }),

    // exactly 20 docs per language in fingerprint order — the eval-set
    // construction sampler (count-exact where hash/stratified keep rates)
    "q_stratified_topk" -> ((s, d) =>
      SamplingOps.samplePerStratum(t(s, d, "documents"), "lang",
          "doc_id", k = 20)
        .withColumn("rank", col("rank").cast(LongType))
        .orderBy("lang", "rank")),

    // deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis): 50 docs drawn with probability ∝ length
    "q_weighted_sample" -> ((s, d) =>
      SamplingOps.weightedSample(
          t(s, d, "documents").select("doc_id", "lang", "n_chars"),
          "doc_id", "n_chars", 50)
        .orderBy("doc_id")),

    // integer-scaled PageRank (5 rounds) over the persisted rare-shingle
    // dup-evidence graph (boilerplate-hub centrality) — fixed-point
    // arithmetic makes the iteration cross-engine exact
    "q_pagerank" -> ((s, d) =>
      graft.ops.GraphOps.pageRankScaled(evidenceGraph(s, d), 5)
        .orderBy("node")),

    // synchronous label-propagation communities (3 rounds, ties →
    // smaller label) over the dup-evidence graph — the DENSITY view:
    // a bridge edge fuses CC clusters but is outvoted here
    "q_label_prop" -> ((s, d) =>
      lpaLabels(s, s"${evidenceStore(s, d)}#g",
          evidenceGraph(s, d), 3)
        .orderBy("node")),

    // clustering-churn audit: Rand/ARI pair-counting agreement between
    // the chain graph's connectivity clustering (ClusterStore CC) and
    // its 3-round LPA communities — bipartite paths split under
    // synchronous LPA, so agreement is deterministically < 1
    "q_cluster_agreement" -> ((s, d) => {
      val root = chainStore(s, d)
      graft.ops.GraphOps.clusterAgreement(
        graft.ext.ClusterStore.assignment(s, root), "id", "cluster_id",
        lpaLabels(s, s"$root#g",
          preparedGraph(s, s"$root#g",
            graft.ext.ClusterStore.pairs(s, root), "id1", "id2"), 3),
        "node", "label")
    }),

    // clustering-quality audit: per-cluster modularity terms of the
    // connected-component dedup clusters against their own dup graph —
    // disconnected chain components score near the disjoint-clique bound
    "q_modularity" -> ((s, d) => {
      val root = chainStore(s, d)
      graft.ops.GraphOps.modularity(
          graft.ext.ClusterStore.pairs(s, root), "id1", "id2",
          graft.ext.ClusterStore.assignment(s, root), "id", "cluster_id")
        .orderBy("cluster")
    }),

    // bounded k-core peel (3 rounds, k=3) of the dup-evidence graph:
    // strip the low-degree fringe, keep the dense template families
    "q_kcore" -> ((s, d) =>
      graft.ops.GraphOps.kCoreBounded(evidenceGraph(s, d), k = 3, rounds = 3)
        .orderBy("node")),

    // placement-quality audit: conductance of the 16-shard rendezvous
    // placement against the dup graph — phi ≈ how many dup edges each
    // shard's boundary cuts (dup-oblivious placement scatters clusters)
    "q_shard_conductance" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = graft.ext.ClusterStore.pairs(s, chainStore(s, d))
      val assign = docs.select(col("doc_id").as("n"),
        graft.ops.ShardOps.rendezvousShard(col("doc_id"), 16).as("shard"))
      graft.ops.GraphOps.conductance(pairs, "id1", "id2",
          assign, "n", "shard")
        .orderBy("cluster")
    }),

    // personalized PageRank (3 rounds): proximity to a seed set over the
    // hash-derived graph — the "expand known-bad docs through the dup
    // graph" primitive, same exact integer fixed point as q_pagerank
    "q_ppr_seeds" -> ((s, d) => {
      val edges = graft.ext.ClusterStore.pairs(s, evidenceStore(s, d))
      val seeds = edges.select(col("id1").as("node"))
        .unionAll(edges.select(col("id2").as("node")))
        .distinct().filter(col("node") % 97 === 0)
      graft.ops.GraphOps.personalizedPageRankScaled(
          evidenceGraph(s, d), seeds, "node", 3)
        .orderBy("node")
    }),

    // capacity-AWARE rendezvous: a 4:2:1:1 weighted cluster — the
    // double-capacity shard owns ~double the docs, and re-weighting one
    // shard never moves keys between bystanders
    "q_weighted_shard" -> ((s, d) =>
      t(s, d, "documents")
        .select(graft.ops.ShardOps.weightedRendezvousShard(col("doc_id"),
          Seq(4.0, 2.0, 1.0, 1.0)).as("shard"))
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .orderBy("shard")),

    // rendezvous (HRW) shard placement: per-shard doc counts at N=16 plus
    // how many of each shard's docs move when a 17th shard joins — HRW
    // moves ONLY the new shard's winners (≈1/17), never reshuffles the rest
    "q_rendezvous_shard" -> ((s, d) =>
      t(s, d, "documents")
        .select(
          graft.ops.ShardOps.rendezvousShard(col("doc_id"), 16).as("shard"),
          graft.ops.ShardOps.rendezvousShard(col("doc_id"), 17).as("s17"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("s17") =!= col("shard"), 1L).otherwise(0L))
            .as("n_moved"))
        .orderBy("shard")),

    // rolling 7-day active users per day (the DAU/WAU product metric):
    // distinct (user, day) explodes into the 7 windows it serves
    "q_rolling_active_users" -> ((s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val days = ud.select(col("day")).distinct()
      ud.select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("o"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("o")).as("day"))
        .join(days, "day")
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
        .orderBy("day")
    }),

    // seasonal anomaly detection: per (event_type, hour-of-day) baseline
    // from exact integer-cent sums; events >3σ off their seasonal mean
    "q_seasonal_anomaly" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("hod", hour(col("ts")).cast(LongType))
        .withColumn("vc", round(col("value") * 100).cast(LongType))
      val stats = ev.groupBy("event_type", "hod").agg(
        count(lit(1)).as("n"), sum(col("vc")).as("s1"),
        sum(col("vc") * col("vc")).as("s2"))
      val mean = col("s1").cast("double") / col("n") / 100.0
      val variance = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("n")) /
        (col("n") - 1) / 10000.0
      ev.join(stats, Seq("event_type", "hod"))
        .withColumn("z", (col("value") - mean) / sqrt(variance))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("hod"),
          col("value"), round(col("z"), 4).as("z"))
        .orderBy("event_id")
    }),

    // equi-depth binning (feature discretization): value deciles per
    // event type with per-bin count and bounds
    "q_equidepth_bins" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("bin", ntile(10).over(w).cast(LongType))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo"),
          max(col("value")).as("hi"))
        .orderBy("event_type", "bin")
    }),

    // banded numeric join |v1-v2| <= eps: eps-bucket + probe-cell ±1
    // equi-join replaces the BroadcastNestedLoopJoin a theta join becomes
    "q_band_join" -> ((s, d) => {
      val p = t(s, d, "part")
      graft.ops.JoinOps.bandJoin(
          p.select(col("p_partkey").as("id1"),
            col("p_retailprice").as("v1")),
          p.select(col("p_partkey").as("id2"),
            col("p_retailprice").as("v2")),
          "v1", "v2", eps = 0.05)
        .filter(col("id1") < col("id2"))
        .select("id1", "id2", "v1", "v2")
        .orderBy("id1", "id2")
    }),

    // longest consecutive-day activity streak per user (gaps-and-islands
    // by day-minus-rank grouping)
    "q_user_streaks" -> ((s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy(col("day").asc)
      ud.withColumn("grp", date_sub(col("day"), row_number().over(w)))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).as("n_active_days"))
        .orderBy("user_id")
    }),

    // rule-free auto-profiler: per-column row/null/distinct counts in one
    // aggregation pass (the dataset-card complement to q_qc_profile)
    "q_profile_columns" -> ((s, d) =>
      QualityCheck.profileColumns(t(s, d, "customer"))
        .orderBy("col_name")),

    // quantile normalization (feature preprocessing): each value mapped
    // to its within-group percent rank
    "q_quantile_normalize" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").asc, col("event_id").asc)
      t(s, d, "events").select(col("event_id"), col("event_type"),
          col("value"),
          round(percent_rank().over(w), 6).as("qnorm"))
        .orderBy("event_id")
    }),

    // Benford's-law QC: leading-digit distribution of order totals vs the
    // log10(1+1/d) expectation — the classic fabricated-data screen.
    // Digits come from exact integer cents, never float log10
    "q_benford" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("digit",
          substring(round(col("o_totalprice") * 100).cast(LongType)
            .cast(StringType), 1, 1).cast(LongType))
      val total = o.agg(count(lit(1)).as("total"))
      o.groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("total"), 6).as("pct"),
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
            .as("benford_expected"))
        .orderBy("digit")
    }),

    // embedding-space distance histogram over a deterministic sample —
    // the collapsed/anisotropic-space diagnostic (a healthy space spreads
    // pair cosines; a collapsed one piles near 1.0)
    "q_embedding_dist_hist" -> ((s, d) => {
      val sample = t(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding"))
      val pairs = sample.select(col("vec_id").as("a"),
          col("embedding").as("ea"))
        .crossJoin(sample.select(col("vec_id").as("b"),
          col("embedding").as("eb")))
        .filter(col("a") < col("b"))
      graft.functions.GraftFunctions.register(s)
      pairs
        .select(round(call_function("graft_cosine", col("ea"), col("eb")),
          6).as("cos"))
        .select(floor(col("cos") * 10).cast(LongType).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    }),

    // cohort retention: users grouped by first-activity day, distinct
    // active users per (cohort, day-offset) — output is days² regardless
    // of corpus size
    "q_retention_cohorts" -> ((s, d) => {
      val ev = t(s, d, "events")
      val firsts = ev.groupBy("user_id")
        .agg(min(date_trunc("day", col("ts"))).as("cohort"))
      val active = ev.select(col("user_id"),
        date_trunc("day", col("ts")).as("day")).distinct()
      active.join(firsts, "user_id")
        .groupBy(col("cohort"),
          datediff(col("day"), col("cohort")).cast(LongType).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "day_offset")
    }),

    // per-user ordered action journey (sequence features for behavioral
    // models): chronological event-type string, capped at 20 steps
    "q_event_sequence" -> ((s, d) =>
      t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          array_join(slice(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), 1, 20), ">").as("journey"))
        .orderBy("user_id")),

    // event-type transition matrix (Markov chain estimate): per-user
    // consecutive pairs → global counts + row-normalized probabilities
    "q_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val wp = Window.partitionBy("prev")
      t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast("double") /
          sum(col("n")).over(wp), 6))
        .orderBy("prev", "curr")
    }),

    // time-RANGE window frame: trailing 1-hour sum/count per user — the
    // value-range frame (vs q_moving_window's row frame); frame membership
    // depends only on the ordering VALUE, so ties need no tie-break
    "q_range_frame" -> ((s, d) => {
      val tsec = col("ts").cast("long")
      val w = Window.partitionBy("user_id").orderBy(tsec)
        .rangeBetween(-3600, 0)
      t(s, d, "events").select(
        col("event_id"), col("user_id"), tsec.as("tsec"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("hr_sum"),
        count(lit(1)).over(w).as("hr_n"))
        .orderBy("event_id")
    }),

    // gap-fill / resample: per-user daily grid, last observation per day,
    // forward-filled across missing days
    "q_gap_fill" -> ((s, d) =>
      TemporalOps.gapFill(t(s, d, "events"), "user_id", "ts", "event_id",
          "value", "day")
        .select(col("user_id"), col("bucket").as("day"), col("value_ff"),
          col("observed"))
        .orderBy("user_id", "day")),

    // ordered-step conversion funnel: view → click → purchase per user,
    // each step strictly after the previous one
    "q_funnel" -> ((s, d) =>
      TemporalOps.funnel(t(s, d, "events"), "user_id", "ts",
          Seq(col("event_type") === "view", col("event_type") === "click",
            col("event_type") === "purchase"))
        .orderBy("user_id")),

    // bivariate statistics: correlation / covariance / least-squares fit of
    // extended price on quantity, per return flag
    "q_corr_regr" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_s"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("intercept"))
        .orderBy("l_returnflag")),

    // ---- relational surface: joins & subquery shapes -------------------------

    // correlated LATERAL subquery: per-group top-n expressed as a lateral
    // (Catalyst plans DomainJoin→decorrelation; same SQL runs in DuckDB)
    "q_lateral_join" -> ((s, d) => sqlq(s, d, Seq("nation", "customer"),
      """SELECT n_name, c_custkey, c_acctbal
         FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer
                               WHERE c_nationkey = n_nationkey
                               ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
         ORDER BY n_name, c_acctbal DESC, c_custkey""")),

    // left outer join + two-level agg (TPC-H Q13 shape)
    "q_left_join_count_dist" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("n_cust"))
        .orderBy(col("n_cust").desc, col("c_count").desc)),

    // full outer join with coalesced key (USING semantics)
    "q_full_outer_join" -> ((s, d) => {
      val ord = t(s, d, "orders")
      val a = ord.filter(col("o_orderstatus") === "F")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_f"))
      val b = ord.filter(col("o_orderstatus") === "O")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_o"))
      a.join(b, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"), coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("n_o"), lit(0L)).as("n_o"))
        .orderBy("o_custkey")
    }),

    // semi-join + agg (TPC-H Q4 shape: EXISTS then count per group)
    "q_exists_agg" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "lineitem").filter(col("l_discount") > 0.05),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")),

    // scalar-subquery filter (TPC-H Q17 shape: below half of per-part avg
    // qty). Window formulation: ONE shuffle on l_partkey computes the
    // per-part average alongside every row — vs the groupBy+join-back shape
    // which shuffles the fact table twice.
    "q_scalar_subquery" -> ((s, d) => {
      val w = Window.partitionBy("l_partkey")
      t(s, d, "lineitem")
        .withColumn("aq",
          sum(col("l_quantity").cast(DecimalType(12, 2))).over(w)
            .cast("double") / count(lit(1)).over(w))
        .filter(col("l_quantity") < lit(0.5) * col("aq"))
        .agg(dsum(col("l_extendedprice")).as("total_price"),
          count(lit(1)).as("n"))
    }),

    // conditional aggregation (TPC-H Q12 shape)
    "q_conditional_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")),

    // two-branch conditional ratio (TPC-H Q14 promo-share shape)
    "q_promo_share" -> ((s, d) =>
      t(s, d, "lineitem")
        .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
        .agg(round(
          lit(100.0) *
            sum(when(col("p_type") === "PROMO",
              col("l_extendedprice").cast(DecimalType(12, 2)) *
                (lit(1).cast(DecimalType(8, 4)) -
                  col("l_discount").cast(DecimalType(8, 4))))
              .otherwise(lit(0).cast(DecimalType(20, 6)))).cast("double") /
            sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
              (lit(1).cast(DecimalType(8, 4)) -
                col("l_discount").cast(DecimalType(8, 4)))).cast("double"),
          6).as("promo_revenue_pct"))),

    // group-filter (HAVING)
    "q_having" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice"), 18, 2).as("total_spent"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")),

    // ---- set operations ------------------------------------------------------

    "q_intersect" -> ((s, d) => {
      val ord = t(s, d, "orders")
      ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
        .intersect(ord.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    }),

    "q_except" -> ((s, d) => {
      val ord = t(s, d, "orders")
      ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
        .except(ord.filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    }),

    // ---- grouping extensions -------------------------------------------------

    "q_cube_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_last,
          col("l_linestatus").asc_nulls_last)),

    // SQL surface: GROUPING SETS + grouping() via spark.sql
    "q_grouping_sets" -> ((s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("graft_lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                      CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
               FROM graft_lineitem_gs
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
               ORDER BY g_rf, g_ls, l_returnflag ASC NULLS LAST,
                        l_linestatus ASC NULLS LAST""")
    }),

    // pivot (wide conditional counts per day)
    "q_pivot_event_counts" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select(col("day"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("error"), lit(0L)).as("n_error"))
        .orderBy("day")),

    // unpivot/melt — the inverse of pivot: wide measure columns → long
    // (entity, metric, value) rows
    "q_unpivot" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_tax")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric", "val")),

    // first_value / last_value / nth_value over an unbounded frame
    "q_first_last_value" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ordered string aggregation (listagg/string_agg)
    "q_string_agg" -> ((s, d) =>
      t(s, d, "orders").filter(col("o_orderkey") < 100)
        .groupBy("o_orderstatus")
        .agg(concat_ws(",",
          sort_array(collect_list(col("o_orderkey").cast(StringType))))
          .as("order_keys"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // ---- ranking & distribution ----------------------------------------------

    "q_dense_rank_ntile" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .withColumn("drank", dense_rank().over(w).cast(LongType))
        .withColumn("quartile", ntile(4).over(w).cast(LongType))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .filter(col("rn") <= 50)
        .select("o_orderstatus", "rn", "o_orderkey", "o_totalprice",
          "drank", "quartile", "pct_rank", "cume")
        .orderBy("o_orderstatus", "rn")
    }),

    // arg-max/arg-min per group (min_by/max_by semantics) as two rank
    // windows over one shuffle — the struct-ordered max_by aggregate fell
    // back to a slow object-hash/sort aggregate at 150k rows
    "q_minby_maxby" -> ((s, d) => {
      val wmax = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
      val wmin = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      t(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(wmax).as("rmax"), row_number().over(wmin).as("rmin"))
        .filter(col("rmax") === 1 || col("rmin") === 1)
        .groupBy("o_orderstatus")
        .agg(
          max(when(col("rmax") === 1, col("o_orderkey"))).as("max_price_key"),
          max(when(col("rmin") === 1, col("o_orderkey"))).as("min_price_key"),
          max(when(col("rmax") === 1, col("o_totalprice"))).as("max_price"),
          min(when(col("rmin") === 1, col("o_totalprice"))).as("min_price"))
        .orderBy("o_orderstatus")
    }),

    "q_percentiles" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    "q_histogram" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bucket")),

    // median absolute deviation (robust spread): two exact-percentile
    // passes — per-group median, then median of |x − med|
    "q_mad_robust" -> ((s, d) => {
      val med = t(s, d, "orders").groupBy("o_orderstatus")
        .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
      t(s, d, "orders").join(med, "o_orderstatus")
        .groupBy(col("o_orderstatus"), col("med"))
        .agg(round(expr("percentile(abs(o_totalprice - med), 0.5)"), 4)
          .as("mad"), count(lit(1)).as("n"))
        .select(col("o_orderstatus"), round(col("med"), 4).as("median_price"),
          col("mad"), col("n"))
        .orderBy("o_orderstatus")
    }),

    // null-safe equality join (<=>): the null-keyed rows MATCH (plain
    // equality would drop them); explicit NULLS FIRST keeps cross-engine
    // order identical
    "q_null_safe_join" -> ((s, d) => {
      val a = t(s, d, "orders")
        .groupBy(expr("nullif(o_orderpriority, '1-URGENT')").as("k"))
        .agg(count(lit(1)).as("n_a"))
      val b = t(s, d, "orders")
        .groupBy(expr("nullif(o_orderpriority, '2-HIGH')").as("k"))
        .agg(count(lit(1)).as("n_b"))
      a.join(b, a("k") <=> b("k"))
        .select(a("k").as("k"), col("n_a"), col("n_b"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // z-score outlier detection: mean/std derived from EXACT integer-cent
    // sums (identical doubles in both engines — no float-agg order drift),
    // keep |z| > 2.5
    "q_outlier_zscore" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("vc", round(col("value") * 100).cast(LongType))
      val stats = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(col("vc")).as("s1"),
        sum(col("vc") * col("vc")).as("s2"))
      val mean = col("s1").cast("double") / col("n") / 100.0
      val variance = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") / col("n")) /
        (col("n") - 1) / 10000.0
      ev.join(stats, "event_type")
        .withColumn("z", (col("value") - mean) / sqrt(variance))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 4).as("z"))
        .orderBy("event_id")
    }),

    // deterministic mode (most frequent value, smallest on count ties — the
    // built-in `mode` is tie-arbitrary, so the argmax is explicit) + exact
    // interpolated median per group
    "q_mode_median" -> ((s, d) => {
      val counts = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val mode = counts.groupBy("l_returnflag")
        .agg(max_by(col("l_quantity"),
          struct(col("cnt"), -col("l_quantity"))).as("mode_qty"))
      val med = t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          count(lit(1)).as("n"))
      mode.join(med, "l_returnflag").orderBy("l_returnflag")
    }),

    // approximate percentiles (t-digest-style sketch) — the 100 TB variant
    // of q_percentiles: mergeable sketch, no global sort. The sketch values
    // are engine-specific, so the oracle is BOUND-BASED: the query emits
    // booleans asserting each sketch quartile lands within 5% of the exact
    // (sort-based) percentile, and the oracle stipulates the bound holds —
    // a full rows+schema+hash row instead of a rows-only check.
    "q_approx_percentiles" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_orderstatus")
        .agg(
          expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75))")
            .as("ap"),
          expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))").as("ex"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n"),
          (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) <=
            element_at(col("ex"), 1) * 0.05).as("p25_within_5pct"),
          (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) <=
            element_at(col("ex"), 2) * 0.05).as("p50_within_5pct"),
          (abs(element_at(col("ap"), 3) - element_at(col("ex"), 3)) <=
            element_at(col("ex"), 3) * 0.05).as("p75_within_5pct"))
        .orderBy("o_orderstatus")),

    // approximate distinct (HLL++) — sketch estimate is engine-specific, so
    // the oracle is BOUND-BASED: emit the exact count (oracle-checkable) and
    // a boolean asserting the sketch is within HLL's configured 5% rsd
    // (±3 sigma ≈ 15% hard bound; 10% here), instead of a rows-only check.
    "q_approx_distinct" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.10).as("within_10pct"))
        .orderBy("event_type")),

    // ---- scalar function surface ---------------------------------------------

    "q_string_funcs" -> ((s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).cast(LongType).as("name_len"),
        concat_ws("-", col("c_mktsegment"), col("c_custkey")).as("seg_key"),
        lpad(col("c_custkey").cast(StringType), 8, "0").as("key_padded"),
        regexp_replace(col("c_name"), "[0-9]", "").as("name_alpha"))
        .orderBy("c_custkey")),

    "q_math_funcs" -> ((s, d) =>
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(-col("l_extendedprice")), 2).as("abs_price"),
        ceil(col("l_discount") * 100).as("disc_ceil"),
        floor(col("l_discount") * 100).as("disc_floor"),
        round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 6).as("price_ln"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        (col("l_orderkey") % 7).as("key_mod"))
        .orderBy("l_orderkey", "l_linenumber")),

    "q_date_funcs" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        month(col("o_orderdate")).cast(LongType).as("mo"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("dom"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("plus30"),
        datediff(lit("2002-01-01").cast(DateType), col("o_orderdate"))
          .cast(LongType).as("days_to_2002"),
        last_day(col("o_orderdate")).as("month_end"),
        date_trunc("month", col("o_orderdate")).as("month_start"))
        .orderBy("o_orderkey")),

    // null-handling scalar functions
    "q_null_funcs" -> ((s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("F")), lit("FINAL")).as("status_nn"),
        greatest(col("o_totalprice"), lit(150000.0)).as("price_floor"),
        least(col("o_totalprice"), lit(150000.0)).as("price_cap"),
        when(col("o_totalprice") > 150000, "big").otherwise("small").as("size_tag"),
        isnull(col("o_custkey")).as("cust_missing"))
        .orderBy("o_orderkey")),

    // array/struct construction + access
    "q_array_funcs" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 50).select(
        col("doc_id"),
        array_contains(split(col("text"), " "), "the").as("has_the"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        concat_ws("|", slice(split(col("text"), " "), 1, 3)).as("first3"),
        element_at(array_sort(array_distinct(split(col("text"), " "))), 1)
          .as("first_sorted"),
        struct(col("doc_id").as("id"), col("lang").as("l"))
          .getField("l").as("lang_via_struct"))
        .orderBy("doc_id")),

    // regexp extraction (capture groups)
    "q_regexp_extract" -> ((s, d) =>
      t(s, d, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
        col("c_name").rlike("[0-9]{3,}").as("has_3digits"))
        .orderBy("c_custkey")),

    "q_levenshtein" -> ((s, d) =>
      t(s, d, "nation").select(col("n_name"),
        levenshtein(col("n_name"), lit("UNITED STATES")).cast(LongType).as("dist"))
        .orderBy("n_name")),

    // generator/UDTF surface: posexplode with ordinal
    "q_token_positions" -> ((s, d) =>
      t(s, d, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
          col("col").as("word"))
        .orderBy("doc_id", "pos")),

    // map type via from_json: keys, cardinality, lookup
    "q_json_keys" -> ((s, d) => {
      val m = from_json(col("props"), MapType(StringType, StringType))
      t(s, d, "events").filter(col("event_id") < 100)
        .select(col("event_id"),
          concat_ws(",", array_sort(map_keys(m))).as("keys"),
          size(map_keys(m)).cast(LongType).as("n_keys"),
          m.getItem("k").cast(LongType).as("k_val"))
        .orderBy("event_id")
    }),

    // nested-DOCUMENT source round trip (DAG:94-132's document model): a
    // parquet source whose rows are user documents — a nested `profile`
    // struct plus an ARRAY OF STRUCTS of the user's events — read back
    // with a nested-field predicate and exploded. The filter on
    // profile.n_events and the leaf-only projection reach the parquet
    // scan (PlanAuditSpec pins PushedFilters + the pruned ReadSchema —
    // the engine-side equivalent of Mongo applying find(query,
    // projection) server-side); the oracle recomputes the explode
    // relationally from the flat events table.
    "q_nested_explode" -> ((s, d) => {
      val p = nestedDocStore(s, d)
      s.read.parquet(p)
        .filter(col("profile.n_events") >= 60)
        .select(col("user_id"), col("profile.n_events").as("n_events"),
          posexplode(col("events")))
        .select(col("user_id"), col("n_events"),
          col("pos").cast(LongType).as("idx"),
          col("col.event_id").as("event_id"),
          col("col.event_type").as("event_type"),
          col("col.value").as("value"))
        .orderBy("user_id", "idx")
    }),

    // ---- [EXT] multimodal binary columns -------------------------------------

    // payload stats over a binary media column (exact blob dedup shape);
    // payload synthesized from documents.text — the engine surface under
    // test is binary-column handling, not the codec (MultimodalOps doc)
    "q_multimodal_payload" -> ((s, d) => {
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
      MultimodalOps.payloadStats(media)
        .select(col("media_id"), col("n_bytes").cast(LongType).as("n_bytes"),
          col("content_hash"),
          floor(col("n_bytes") / 100).cast(LongType).as("size_bucket"))
        .orderBy("media_id")
    }),

    // exact blob dedup on the payload content hash — media analog of
    // q_dedup_exact_content (16-byte key shuffle, payload never shuffles)
    "q_multimodal_blob_dedup" -> ((s, d) => {
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("payload"))
      MultimodalOps.payloadStats(media)
        .groupBy("content_hash")
        .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .select("content_hash", "keep_id", "n_dups")
        .orderBy("keep_id")
    }),

    // video frame-sampling plumbing: one row per sampled frame timestamp,
    // duration carried as typed metadata (payload untouched by the explode)
    "q_multimodal_frame_sample" -> ((s, d) => {
      val media = t(s, d, "documents").select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(lit("video").as("media_type"), lit("mp4").as("format"),
          lit(640).as("width"), lit(480).as("height"),
          (col("n_chars") * 10).cast(LongType).as("duration_ms"),
          lit(0).as("sample_rate")).as("meta"))
      MultimodalOps.sampleFrames(media.filter(col("media_id") < 100),
          everyMs = 500L)
        .orderBy("media_id", "frame_ms")
    }),

    // ---- skew mitigation (results identical to unsalted forms) ---------------

    // salted equi-join: hot-key rows split across `buckets` reducers
    "q_salted_join" -> ((s, d) => {
      val joined = SkewOps.saltedJoin(
        t(s, d, "lineitem"),
        t(s, d, "part").select("p_partkey", "p_type")
          .withColumnRenamed("p_partkey", "l_partkey"),
        key = "l_partkey", saltFrom = "l_linenumber", buckets = 8)
      joined.groupBy("p_type")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_type")
    }),

    // two-phase exact distinct (shuffle key includes the value → no hot group)
    "q_distinct_two_phase" -> ((s, d) =>
      SkewOps.distinctCountTwoPhase(t(s, d, "events"), "event_type", "user_id")
        .orderBy("event_type")),

    // bloom-pruned fact⋈dim join: a bloom over the selective dim side's
    // keys drops non-matching fact rows AT THE SCAN, before the join
    // shuffle; false positives die in the exact join, so the result is
    // row-identical to the plain join (which is the oracle)
    "q_bloom_prune_join" -> ((s, d) => {
      val dim = t(s, d, "part").filter(col("p_size") <= 2)
        .select("p_partkey", "p_brand")
      SkewOps.bloomPrunedJoin(t(s, d, "lineitem"), dim,
        "l_partkey", "p_partkey")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")
    }),

    // ---- [EXT] winnowing document fingerprints (MOSS scheme) -----------------

    "q_winnow_fingerprints" -> ((s, d) =>
      docWinnowFingerprints(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fingerprints"),
          min(col("fingerprint")).as("min_fp"),
          max(col("fingerprint")).as("max_fp"))
        .orderBy("doc_id")),

    // ---- round-14 statistics wave --------------------------------------------

    // Somers' D: the asymmetric concordance — of the pairs quantity
    // actually orders, what net fraction does line position follow
    // (and vice versa); kendall's machinery, directional denominators
    "q_somers_d" -> ((s, d) =>
      graft.ops.StatsOps.somersD(t(s, d, "lineitem"),
        "l_quantity", "l_linenumber")),

    // Goodman-Kruskal lambda: does knowing priority IMPROVE the modal
    // guess of status (and vice versa) — prediction gain, not
    // dependence; 0 here even when chi2 fires
    "q_gk_lambda" -> ((s, d) =>
      graft.ops.StatsOps.gkLambda(t(s, d, "orders"),
        "o_orderpriority", "o_orderstatus")),

    // Theil's U: the entropy-normalized, ASYMMETRIC dependence of
    // source on lang and lang on source — mutual information scaled
    // into [0,1] by each margin's own entropy
    "q_theils_u" -> ((s, d) =>
      graft.ops.StatsOps.theilsU(t(s, d, "documents"), "lang", "source")),

    // Kendall's W: how consistently do days rank the event types —
    // the [0,1] concordance normalization of q_friedman's Q on the
    // same dense day x type grid
    "q_kendall_w" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type").as("et"))
        .agg(count(lit(1)).as("cnt"))
      val days = daily.select("day").distinct()
      val types = daily.select("et").distinct()
      val dense = days.crossJoin(broadcast(types))
        .join(daily, Seq("day", "et"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      graft.ops.StatsOps.kendallW(dense, "day", "et", "cnt")
    }),

    // Cochran's Q: binary within-block — across users, do the five
    // event types differ in their ever-had-a-high-value-event rate,
    // holding per-user propensity fixed; absent cells are failures
    "q_cochran_q" -> ((s, d) =>
      graft.ops.StatsOps.cochranQ(
        t(s, d, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("hi", col("value") >= 50.0),
        "user_id", "event_type", "hi")),

    // Fleiss' kappa: do the 4 lines of a 4-line order agree on return
    // flag beyond chance — m raters per item, identity-free agreement
    "q_fleiss_kappa" -> ((s, d) =>
      graft.ops.StatsOps.fleissKappa(t(s, d, "lineitem"),
        "l_orderkey", "l_returnflag", m = 4)),

    // restricted mean survival time: area under q_kaplan_meier's curve
    // to day 60 — "of the next 60 days, how many does a user survive
    // unchurned on average"
    "q_rmst" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val spans = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        max(date_trunc("day", col("ts"))).as("__last"))
      val maxd = spans.agg(max(col("__last")).as("__maxd"))
      val units = spans.crossJoin(broadcast(maxd))
        .select(
          datediff(col("__last"), col("__first")).cast("long")
            .as("duration"),
          (datediff(col("__maxd"), col("__last")) >= 7).as("churned"))
      graft.ops.StatsOps.rmst(units, "duration", "churned", tau = 60L)
    }),

    // competing-risks cumulative incidence (Aalen-Johansen): per user,
    // time to FIRST purchase vs FIRST error from first activity —
    // 1-KM per cause would overstate both, since the other cause
    // removes the user from risk
    "q_cuminc" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("ts").isNotNull)
      val firsts = ev.groupBy("user_id").agg(
        min(date_trunc("day", col("ts"))).as("__first"),
        min(when(col("event_type") === "purchase",
          date_trunc("day", col("ts")))).as("__p"),
        min(when(col("event_type") === "error",
          date_trunc("day", col("ts")))).as("__e"),
        max(date_trunc("day", col("ts"))).as("__last"))
      // first cause to fire wins; purchase wins same-day ties
      val units = firsts.select(
        datediff(
          coalesce(least(col("__p"), col("__e")), col("__p"), col("__e"),
            col("__last")), col("__first")).cast("long").as("duration"),
        when(col("__p").isNotNull &&
          (col("__e").isNull || col("__p") <= col("__e")), "purchase")
          .when(col("__e").isNotNull, "error")
          .otherwise(lit(null).cast("string")).as("cause"))
      graft.ops.StatsOps.cumulativeIncidence(units, "duration", "cause")
    }),

    // Theil inequality decomposition: is order-value inequality driven
    // by gaps BETWEEN priority classes or spread INSIDE them
    "q_theil_decomp" -> ((s, d) =>
      graft.ops.StatsOps.theilIndex(t(s, d, "orders"),
        "o_orderpriority", "o_totalprice")),

    // Atkinson index (eps=1) per priority class: inequality as the
    // welfare-equivalent share of value that could be discarded
    "q_atkinson" -> ((s, d) =>
      graft.ops.StatsOps.atkinsonIndex(t(s, d, "orders"),
        "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority")),

    // Murphy decomposition of q_brier's score: miscalibration
    // (reliability) vs discrimination (resolution) vs base-rate noise
    "q_brier_decomp" -> ((s, d) =>
      graft.ops.EvalOps.brierDecomposition(
        t(s, d, "events")
          .withColumn("p", round(lit(1.0) /
            (lit(1.0) + exp(-((col("value") - 50.0) / 25.0))), 6))
          .withColumn("y", col("event_type") === "purchase"),
        "p", "y")),

    // Ljung-Box portmanteau: is the daily event-count series white
    // noise — q_acf's 7 lags collapsed into one test statistic
    "q_ljung_box" -> ((s, d) =>
      TemporalOps.ljungBox(t(s, d, "events"), "ts", maxLag = 7)),

    // KPSS: is the daily event-count LEVEL stationary (null) or
    // drifting/unit-root — the stability gate q_mann_kendall's
    // monotone-trend lens cannot provide
    "q_kpss" -> ((s, d) =>
      TemporalOps.kpssTest(t(s, d, "events"), "ts", bandwidth = 7)),

    // periodogram: which period (2..14 days) carries the most daily-
    // count variance — FINDS the cycle q_seasonal_decompose assumes
    "q_dominant_cycle" -> ((s, d) =>
      TemporalOps.dominantCycle(t(s, d, "events"), "ts", maxPeriod = 14)),

    // Chatterjee's xi: is daily order revenue a FUNCTION of the date —
    // the nonlinear dependence coefficient (monotone or not), beside
    // mann-kendall's monotone-only lens
    "q_chatterjee_xi" -> ((s, d) =>
      TemporalOps.chatterjeeXi(t(s, d, "orders"), "o_orderdate",
        "o_totalprice")),

    // Jarque-Bera: are event values even close to Gaussian — the gate
    // before any z-interval/3-sigma readout on this column
    "q_jarque_bera" -> ((s, d) =>
      graft.ops.StatsOps.jarqueBera(t(s, d, "events"), "value")),

    // TVD/Bhattacharyya/Hellinger between two crawl sources' language
    // mixes — the drift trio beside PSI (zero-bin-safe, metric)
    "q_dist_distance" -> ((s, d) =>
      graft.ops.StatsOps.distributionDistance(t(s, d, "documents"),
        "lang", "source", "src0", "src1")),

    // Hodges-Lehmann shift: HOW MUCH higher do purchase values run
    // than views — the robust location companion to mann-whitney's z
    // and cliffs-delta's probability, on the same binned support
    "q_hl_shift" -> ((s, d) =>
      graft.ops.StatsOps.hodgesLehmann(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Mood's scale test: are purchase values more SPREAD than views,
    // by ranks — the dispersion twin of q_mann_whitney
    "q_mood_scale" -> ((s, d) =>
      graft.ops.StatsOps.moodScaleTest(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Kuiper V = D+ + D-: the tail-swap/cyclic-shift-sensitive twin of
    // q_ks_test on the same binned support
    "q_kuiper" -> ((s, d) =>
      graft.ops.StatsOps.kuiperTest(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // index of dispersion: per event type, the Fano factor of its
    // daily counts — bursty (>1) vs Poisson (~1) vs regular (<1)
    "q_fano_factor" -> ((s, d) =>
      graft.ops.StatsOps.dispersionIndex(
        t(s, d, "events").filter(col("ts").isNotNull)
          .withColumn("day", date_trunc("day", col("ts"))),
        "event_type", "day")),

    // Quade test: the range-weighted Friedman on the same dense
    // day x type grid — blocks that actually discriminate count more
    "q_quade" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type").as("et"))
        .agg(count(lit(1)).as("cnt"))
      val days = daily.select("day").distinct()
      val types = daily.select("et").distinct()
      val dense = days.crossJoin(broadcast(types))
        .join(daily, Seq("day", "et"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      graft.ops.StatsOps.quadeTest(dense, "day", "et", "cnt")
    }),

    // runs test: does daily order revenue streak (regimes) or flip
    // (forced alternation) around its median — order-sensitive
    // randomness the histogram can't see
    "q_runs_test" -> ((s, d) =>
      TemporalOps.runsTest(t(s, d, "orders"), "o_orderdate",
        "o_totalprice")),

    // stationary distribution of the event-type chain: long-run
    // occupancy under the observed transition dynamics — the
    // equilibrium beside q_markov_transitions' one-step matrix
    "q_markov_stationary" -> ((s, d) =>
      TemporalOps.markovStationary(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", iters = 30)),

    // Flesch / FK readability per doc: the audience-difficulty axis of
    // text quality the length/punct heuristics can't see — three
    // per-row regex kernels, zero shuffles
    "q_readability" -> ((s, d) =>
      TextOps.readabilityScores(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // per-doc type-token ratio + hapax share: global vocabulary reuse
    // (template pages) where the repetition kernels see only adjacency
    "q_doc_ttr" -> ((s, d) =>
      TextOps.docTtr(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Gwet's AC1 on the same 4-line panels as q_fleiss_kappa: the
    // prevalence-robust agreement twin (kappa << AC1 = skew diagnostic)
    "q_gwet_ac1" -> ((s, d) =>
      graft.ops.StatsOps.gwetAc1(t(s, d, "lineitem"),
        "l_orderkey", "l_returnflag", m = 4)),

    // Hoover (Robin Hood) index per priority class: the share of order
    // value that would have to move to equalize customers — q_gini's
    // operational sibling, and rank-free so it costs no per-group sort
    "q_hoover" -> ((s, d) =>
      graft.ops.StatsOps.hoover(t(s, d, "orders"), "o_orderpriority",
          "o_totalprice")
        .orderBy("o_orderpriority")),

    // Simpson diversity per source: probability two docs share a lang —
    // the dominance-weighted diversity reading next to the entropy one
    "q_simpson_diversity" -> ((s, d) =>
      graft.ops.StatsOps.simpsonDiversity(t(s, d, "documents"),
          "source", "lang")
        .orderBy("source")),

    // Grubbs max-outlier on the daily value series: which day breaks
    // the metric, in SD units — the named-single-point companion to
    // the z-score sweep
    "q_grubbs" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast(DecimalType(18, 2)))
          .cast(DecimalType(18, 2)).cast("double").as("daily_total"))
      graft.ops.StatsOps.grubbsMaxOutlier(daily, "day", "daily_total")
    }),

    // Cuzick's trend test: does price rank rise with line position —
    // the global-rank member of the ordered-trend trio (JT sums pair
    // directions, Page handles blocks, Cuzick weights ranks by dose).
    // $100 pre-bin: rank tests need LEVELS, not dollars — the dollar
    // grain put ~90k support values through the rank kernel (3.2s) for
    // the same trend reading a ~900-value support gives at 0.6s
    "q_cuzick_trend" -> ((s, d) =>
      graft.ops.StatsOps.cuzickTrend(
        t(s, d, "lineitem").withColumn("vbin",
          round(col("l_extendedprice"), -2)),
        "vbin", "l_linenumber")),

    // Page-Hinkley drift alarm backtest on daily value totals: when
    // would the ONLINE monitor have fired, and how loudly — cusum's
    // running-mean sibling (cusum integrates against the global mean)
    "q_page_hinkley" -> ((s, d) =>
      graft.ops.TemporalOps.pageHinkley(t(s, d, "events"), "ts", "value")),

    // permutation entropy (m=3) of the daily value series: order-
    // pattern complexity, invariant to any monotone transform — the
    // model-free structured-vs-random number beside acf/periodogram
    "q_perm_entropy" -> ((s, d) =>
      graft.ops.TemporalOps.permutationEntropy(t(s, d, "events"),
        "ts", "value")),

    // two-sample energy distance (purchase vs view values): the
    // unweighted-L2 member of the CDF-gap family — full-strength on
    // tail gaps the pooled CvM weighting discounts
    "q_energy_distance" -> ((s, d) =>
      graft.ops.StatsOps.energyDistance1D(
        t(s, d, "events").withColumn("vbin", round(col("value"), 0)),
        "vbin", "event_type", "purchase", "view")),

    // Welch's ANOVA on the q_anova_f fixture: the k-group mean test
    // that survives unequal segment variances (pair with q_levene)
    "q_welch_anova" -> ((s, d) =>
      graft.ops.StatsOps.welchAnova(t(s, d, "events"), "value",
        "event_type")),

    // Brown-Forsythe on the q_levene fixture: the MEDIAN-centered
    // equal-variance test — calibrated on the skewed segments whose
    // outliers drag Levene's own mean centers
    "q_brown_forsythe" -> ((s, d) =>
      graft.ops.StatsOps.brownForsythe(t(s, d, "events"), "value",
        "event_type")),

    // Games-Howell on the q_tukey_pairs fixture: which pairs moved,
    // per-pair SE + Welch-Satterthwaite df — no pooled-variance
    // assumption (tukey's q is anticonservative under heteroscedasticity)
    "q_games_howell" -> ((s, d) =>
      graft.ops.StatsOps.gamesHowell(t(s, d, "events"), "value",
        "event_type")),

    // Siegel repeated-medians slope on the q_theil_sen fixture: the
    // 50%-breakdown trend — survives corrupt SPANS of days, not just
    // scattered outliers
    "q_siegel_slope" -> ((s, d) =>
      graft.ops.TemporalOps.siegelSlope(t(s, d, "events"), "ts",
        "value")),

    // ICC(1): how much of order value variance lives BETWEEN priority
    // classes — the variance-components strength reading of q_anova_f
    "q_icc" -> ((s, d) =>
      graft.ops.StatsOps.iccOneWay(t(s, d, "orders"),
        "o_totalprice", "o_orderpriority")),

    // Cronbach's alpha: do the five event types' daily counts move as
    // ONE signal across days — composite-metric reliability on the
    // same dense day x type grid as q_friedman
    "q_cronbach_alpha" -> ((s, d) => {
      val daily = t(s, d, "events")
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type").as("et"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      val days = daily.select("day").distinct()
      val types = daily.select("et").distinct()
      val dense = days.crossJoin(broadcast(types))
        .join(daily, Seq("day", "et"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0.0)))
      graft.ops.StatsOps.cronbachAlpha(dense, "day", "et", "cnt")
    }),

    // Lin's CCC: do order-header totals AGREE with summed line prices
    // (same scale) — near 0 here, correctly flagging that this corpus'
    // headers don't derive from lines; pearson rides along
    "q_lin_ccc" -> ((s, d) => {
      val ls = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("line_sum"))
      val paired = t(s, d, "orders")
        .join(ls, col("o_orderkey") === col("l_orderkey"))
      graft.ops.StatsOps.linCcc(paired, "o_totalprice", "line_sum")
    }),

    // Bland-Altman limits of agreement on the same header-vs-lines
    // pair: the actionable band behind q_lin_ccc's single number
    "q_bland_altman" -> ((s, d) => {
      val ls = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("line_sum"))
      val paired = t(s, d, "orders")
        .join(ls, col("o_orderkey") === col("l_orderkey"))
      graft.ops.StatsOps.blandAltman(paired, "o_totalprice", "line_sum")
    }),

    // Newcombe score CI on the purchase-rate DIFFERENCE between the
    // two hash arms — the diff-with-band readout beside the per-arm
    // q_conversion_wilson rows
    "q_newcombe_ci" -> ((s, d) =>
      graft.ops.StatsOps.newcombeDiffCi(
        t(s, d, "events")
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("arm",
            when(pmod(graft.ext.TextOps.fingerprint60(
              concat(col("user_id").cast("string"), lit(":ab"))),
              lit(2L)) === 0L, "a").otherwise("b"))
          .withColumn("ok", col("event_type") === "purchase"),
        "ok", "arm", "a", "b")),

    // one-sample KS vs discrete uniform on the split-hash buckets —
    // the uniformity audit every fingerprint-based sampler rests on
    "q_ks_uniform" -> ((s, d) =>
      graft.ops.StatsOps.ksUniform(
        t(s, d, "events").filter(col("user_id").isNotNull)
          .withColumn("bkt", pmod(graft.ext.TextOps.fingerprint60(
            concat(col("user_id").cast("string"), lit(":ab"))),
            lit(1000L))),
        "bkt")),

    // Mood's MEDIAN test: do the five priority classes share one
    // median order value — the assumption-free k-group location test
    "q_median_test" -> ((s, d) =>
      graft.ops.StatsOps.medianTest(t(s, d, "orders"),
        "o_totalprice", "o_orderpriority")),

    // Bowker symmetry on the event-type transition pairs: does A→B
    // genuinely outnumber B→A — the directionality score behind
    // q_markov_transitions' raw matrix (McNemar's k-category form)
    "q_bowker" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val pairsDf = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
      graft.ops.StatsOps.bowkerSymmetry(pairsDf, "prev", "event_type")
    }),

    // spectral entropy: is the daily count series' rhythm owned by one
    // period or spread white — the one-number periodogram summary
    "q_spectral_entropy" -> ((s, d) =>
      TemporalOps.spectralEntropy(t(s, d, "events"), "ts", maxPeriod = 14)),

    // two-period Poisson rate test on error events: did the error
    // rate change between the window's halves — level, where
    // q_runs_test sees pattern
    "q_poisson_rate" -> ((s, d) =>
      TemporalOps.poissonRateTest(
        t(s, d, "events").filter(col("event_type") === "error"), "ts")),

    // association rules over the shared basket frame: directed
    // support/confidence/lift/leverage/conviction per category pair —
    // the full rule readout q_basket_lift's symmetric score compresses
    "q_basket_rules" -> ((s, d) => {
      val li = orderPtypeBaskets(s, d)
      val single = li.groupBy("ptype").agg(count(lit(1)).as("na"))
      val tot = li.select("ok").distinct().agg(count(lit(1)).as("n"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.ptype") =!= col("b.ptype"))
        .groupBy(col("a.ptype").as("antecedent"),
          col("b.ptype").as("consequent"))
        .agg(count(lit(1)).as("nab"))
      val nD = col("n").cast("double")
      val conf = col("nab").cast("double") / col("na")
      val suppB = col("nb").cast("double") / nD
      pairs
        .join(single.select(col("ptype").as("antecedent"), col("na")),
          "antecedent")
        .join(single.select(col("ptype").as("consequent"),
          col("na").as("nb")), "consequent")
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"), col("nab"),
          round(col("nab").cast("double") / nD, 6).as("support"),
          round(conf, 6).as("confidence"),
          round(conf / suppB, 6).as("lift"),
          round(col("nab").cast("double") / nD -
            (col("na").cast("double") / nD) * suppB, 6).as("leverage"),
          when(round(conf, 6) < 1.0,
            round((lit(1.0) - suppB) / (lit(1.0) - conf), 6))
            .otherwise(lit(null).cast("double")).as("conviction"))
        .orderBy("antecedent", "consequent")
    })
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracles — same semantics, same column names, same ordering.
  // ---------------------------------------------------------------------------

  private val revenueExpr =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)"

  /** Unrolled BPE training rounds for the q_budget_select_bpe oracle —
    * round k counts adjacent token pairs over the vocabulary states
    * s(k-1) weighted by word frequency, selects up to `batch` token-
    * disjoint winners from the ranked top-8·batch prefix by
    * (count desc, pair asc) — a pair survives iff it shares no token with
    * ANY higher-ranked prefix pair, `TextOps.bpeTrainMerges`'s exact
    * rule — and applies them in rank order as the same flat string
    * replaces the Spark trainer uses, so the merge table DuckDB derives
    * is identical to the one the Spark side trains. */
  private def bpeOracleRounds(n: Int, batch: Int = 1): String = {
    val kTop = 8 * batch
    val sizes = Iterator.unfold(n) { rem =>
      if (rem <= 0) None else Some((math.min(batch, rem), rem - math.min(batch, rem)))
    }.toSeq
    sizes.zipWithIndex.map { case (b, i) =>
      val k = i + 1
      val apply = (1 to b).foldLeft("st") { (prev, sel) =>
        val pick = s"(SELECT pair FROM m$k WHERE sel = $sel)"
        s"""CASE WHEN $pick IS NULL THEN $prev
                 ELSE replace($prev, $pick, '.' || replace($pick, '.', '') || '.') END"""
      }
      s"""p$k AS (SELECT '.' || tk[i] || '.' || tk[i+1] || '.' AS pair, SUM(freq) AS cnt
                  FROM (SELECT freq, string_split(st, '.') AS tk FROM s${k - 1}) t$k,
                       unnest(generate_series(2, len(tk)-2)) AS u$k(i)
                  GROUP BY 1),
              r$k AS (SELECT pair, tk2[2] AS t1, tk2[3] AS t2, rn FROM (
                        SELECT pair, string_split(pair, '.') AS tk2,
                               row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn
                        FROM p$k) WHERE rn <= $kTop),
              m$k AS (SELECT a.pair, row_number() OVER (ORDER BY a.rn ASC) AS sel
                      FROM r$k a
                      WHERE NOT EXISTS (SELECT 1 FROM r$k q WHERE q.rn < a.rn
                            AND (q.t1 = a.t1 OR q.t1 = a.t2 OR q.t2 = a.t1 OR q.t2 = a.t2))
                      QUALIFY sel <= $b),
              s$k AS (SELECT w, freq, $apply AS st FROM s${k - 1})"""
    }.mkString(",\n              ")
  }

  /** Replay of [[graft.ext.TextOps.subwordCountBpe]]'s merge APPLICATION
    * over the full-corpus vocabulary: f0 is every corpus word's initial
    * char state; round k re-applies the trained round-k merges m$k (from
    * [[bpeOracleRounds]] — trained on the SAMPLE, applied to everything,
    * exactly the Spark split). */
  private def bpeOracleApplyRounds(n: Int, batch: Int = 1): String = {
    val sizes = Iterator.unfold(n) { rem =>
      if (rem <= 0) None else Some((math.min(batch, rem), rem - math.min(batch, rem)))
    }.toSeq
    sizes.zipWithIndex.map { case (b, i) =>
      val k = i + 1
      val apply = (1 to b).foldLeft("st") { (prev, sel) =>
        val pick = s"(SELECT pair FROM m$k WHERE sel = $sel)"
        s"""CASE WHEN $pick IS NULL THEN $prev
                 ELSE replace($prev, $pick, '.' || replace($pick, '.', '') || '.') END"""
      }
      s"""f$k AS (SELECT w, $apply AS st FROM f${k - 1})"""
    }.mkString(",\n              ")
  }

  /** Shared WITH-body for the q_nb_* oracles: multinomial NB trained on
    * even-id docs (label = source), posteriors decimal-summed over
    * 6dp-rounded per-token log-likelihoods — the exact arithmetic
    * ClassifyOps.nbClassify performs, replayed in SQL. */
  private def nbOracleCore: String =
    """WITH tr AS (SELECT doc_id, source, text FROM documents
                   WHERE text IS NOT NULL AND doc_id % 2 = 0),
              sc AS (SELECT doc_id, source, text FROM documents
                     WHERE text IS NOT NULL AND doc_id % 2 = 1),
              tt AS (SELECT source AS cls, unnest(string_split(text, ' ')) AS t FROM tr),
              ct AS (SELECT cls, t, COUNT(*) AS cnt FROM tt GROUP BY cls, t),
              tot AS (SELECT cls, SUM(cnt) AS tot FROM ct GROUP BY cls),
              v AS (SELECT COUNT(DISTINCT t) AS v FROM ct),
              pri AS (SELECT source AS cls, COUNT(*) AS nc FROM tr GROUP BY source),
              prin AS (SELECT SUM(nc) AS n FROM pri),
              prior AS (SELECT cls, CAST(ROUND(ln(CAST(nc AS DOUBLE) / n), 6) AS DECIMAL(28,6)) AS prior
                        FROM pri CROSS JOIN prin),
              vocab AS (SELECT DISTINCT t FROM ct),
              mat AS (SELECT tot.cls, vocab.t,
                             CAST(ROUND(ln(CAST(COALESCE(ct.cnt, 0) + 1 AS DOUBLE) / (tot.tot + v.v)), 6) AS DECIMAL(28,6)) AS lp
                      FROM vocab CROSS JOIN tot CROSS JOIN v
                      LEFT JOIN ct ON ct.cls = tot.cls AND ct.t = vocab.t),
              dtf AS (SELECT doc_id, source AS actual, t, COUNT(*) AS tf
                      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t FROM sc)
                      GROUP BY doc_id, source, t),
              ds AS (SELECT dtf.doc_id, dtf.actual, mat.cls,
                            CAST(SUM(dtf.tf * mat.lp) AS DECIMAL(28,6)) AS ts
                     FROM dtf JOIN mat ON dtf.t = mat.t GROUP BY 1, 2, 3),
              grid AS (SELECT sc.doc_id, sc.source AS actual, prior.cls, prior.prior
                       FROM sc CROSS JOIN prior),
              posts AS (SELECT g.doc_id, g.actual, g.cls,
                               CAST(COALESCE(ds.ts, 0) + g.prior AS DECIMAL(28,6)) AS post
                        FROM grid g LEFT JOIN ds
                          ON ds.doc_id = g.doc_id AND ds.cls = g.cls),
              rk AS (SELECT doc_id, actual, cls, post,
                            row_number() OVER (PARTITION BY doc_id ORDER BY post DESC, cls ASC) AS rn,
                            lead(post) OVER (PARTITION BY doc_id ORDER BY post DESC, cls ASC) AS nxt
                     FROM posts)"""

  /** Shared WITH-body for the q_bm25_batch / q_self_retrieval_mrr
    * oracles: inverted-index batch BM25 with 6dp-rounded decimal-summed
    * per-(query, doc) scores — the arithmetic chain of q_bm25_topk. */
  private def bm25BatchOracleCore: String =
    """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS toks,
                              CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                       FROM documents WHERE text IS NOT NULL),
              stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
                        FROM corpus),
              q AS (SELECT DISTINCT doc_id AS qid, unnest(toks[1:5]) AS term
                    FROM corpus WHERE doc_id < 20),
              post0 AS (SELECT doc_id, dl, unnest(toks) AS term FROM corpus),
              qterm AS (SELECT DISTINCT term FROM q),
              postings AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
                           FROM post0 JOIN qterm USING (term)
                           GROUP BY doc_id, dl, term),
              dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft
                      FROM postings GROUP BY term),
              contrib AS (SELECT q.qid, p.doc_id,
                                 CAST(ROUND(ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5))
                                      * p.tf * 2.2
                                      / (p.tf + (0.25 + (p.dl / s.avgdl) * 0.75) * 1.2), 6) AS DECIMAL(18,6)) AS c
                          FROM q JOIN postings p USING (term)
                               JOIN dfs d USING (term) CROSS JOIN stats s),
              ds AS (SELECT qid, doc_id, CAST(SUM(c) AS DECIMAL(18,6)) AS sc
                     FROM contrib GROUP BY qid, doc_id),
              rk AS (SELECT qid, doc_id, CAST(sc AS DOUBLE) AS bm25,
                            CAST(row_number() OVER (PARTITION BY qid ORDER BY sc DESC, doc_id ASC) AS BIGINT) AS rnk
                     FROM ds)"""

  /** Generated DuckDB oracle for q_markov_attribution: `iters` unrolled
    * K-step absorption updates replaying
    * [[graft.ops.TemporalOps.markovRemovalAttribution]]'s exact rounding
    * discipline — 9dp transition probabilities, 9dp-rounded products
    * summed as DECIMAL(18,9), ONE pinned double CONV add, 9dp per state
    * per step; 6dp effects and shares. Removal scenarios ride an `rm`
    * dimension ('NONE' = the full chain); a transition is allowed iff
    * its destination is a channel other than `rm`. */
  private def markovAttributionOracle(iters: Int): String = {
    // MATERIALIZED is load-bearing: without it DuckDB inlines each lK's
    // whole predecessor chain per reference and the 50-level plan
    // explodes (observed: the optimizer spins forever at K=50)
    val iterCtes = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (SELECT r.rm, s.st,
         |          ROUND(COALESCE(MAX(cv.p), 0) +
         |                COALESCE(CAST(SUM(CAST(ROUND(t.p * pv.p, 9)
         |                  AS DECIMAL(18,9))) AS DOUBLE), 0), 9) AS p
         |        FROM rms r CROSS JOIN states s
         |        LEFT JOIN trans t ON t.src = s.st AND t.dst <> r.rm
         |             AND t.dst NOT IN ('CONV', 'NULL')
         |        LEFT JOIN l${k - 1} pv ON pv.rm = r.rm AND pv.st = t.dst
         |        LEFT JOIN conv cv ON cv.src = s.st
         |        GROUP BY r.rm, s.st)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id AS u, ts, event_id AS tie, event_type AS e
       |            FROM events
       |            WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |              AND event_type IS NOT NULL),
       |     fl AS (SELECT u, ts, tie, e,
       |                   COALESCE(SUM(CASE WHEN e = 'purchase' THEN 1 ELSE 0 END)
       |                     OVER (PARTITION BY u ORDER BY ts, tie
       |                           ROWS BETWEEN UNBOUNDED PRECEDING
       |                             AND 1 PRECEDING), 0) AS pc
       |            FROM ev),
       |     kept AS (SELECT u, ts, tie, e FROM fl WHERE pc = 0),
       |     wp AS (SELECT u, e,
       |                   lag(e) OVER (PARTITION BY u ORDER BY ts, tie) AS prev,
       |                   lead(e) OVER (PARTITION BY u ORDER BY ts, tie)
       |                     IS NULL AS lastrow
       |            FROM kept),
       |     steps AS (SELECT COALESCE(prev, 'START') AS src,
       |                      CASE WHEN e = 'purchase' THEN 'CONV' ELSE e END AS dst
       |               FROM wp
       |               UNION ALL
       |               SELECT e, 'NULL' FROM wp WHERE lastrow AND e <> 'purchase'),
       |     cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |             FROM steps GROUP BY 1, 2),
       |     tot AS (SELECT src, SUM(n) AS tn FROM cnt GROUP BY 1),
       |     trans AS (SELECT c.src, c.dst, ROUND(CAST(c.n AS DOUBLE) / t.tn, 9) AS p
       |               FROM cnt c JOIN tot t USING (src)),
       |     conv AS (SELECT src, p FROM trans WHERE dst = 'CONV'),
       |     states AS (SELECT src AS st FROM tot),
       |     channels AS (SELECT st AS ch FROM states WHERE st <> 'START'),
       |     rms AS (SELECT ch AS rm FROM channels UNION ALL SELECT 'NONE'),
       |     l0 AS (SELECT r.rm, s.st, CAST(0.0 AS DOUBLE) AS p
       |            FROM rms r CROSS JOIN states s),
       |$iterCtes,
       |     re AS (SELECT c.ch AS channel,
       |                   ROUND(1.0 - a.p / NULLIF(f.p, 0), 6) AS removal_effect
       |            FROM channels c
       |            JOIN l$iters a ON a.rm = c.ch AND a.st = 'START'
       |            CROSS JOIN (SELECT p FROM l$iters
       |                        WHERE rm = 'NONE' AND st = 'START') f),
       |     tre AS (SELECT SUM(CAST(removal_effect AS DECIMAL(18,6))) AS s FROM re)
       |SELECT re.channel, re.removal_effect,
       |       ROUND(re.removal_effect / NULLIF(CAST(tre.s AS DOUBLE), 0), 6)
       |         AS attribution_share
       |FROM re CROSS JOIN tre
       |ORDER BY re.channel""".stripMargin
  }

  /** Generated DuckDB oracle for q_geometric_median: `rounds` unrolled
    * Weiszfeld updates over `dims` components replaying
    * [[graft.ext.SimilarityOps.geometricMedian]]'s exact round/decimal
    * discipline (9dp decimal sums, 6dp re-entry, left-associated
    * distance chain, dd > 0 guard). */
  private def geoMedianOracle(dims: Int, rounds: Int): String = {
    val xs = (1 to dims)
      .map(i => s"CAST(embedding[$i] AS DOUBLE) AS x$i").mkString(", ")
    val m0 = (1 to dims).map(i =>
      s"ROUND(CAST(SUM(CAST(ROUND(x$i, 9) AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6) AS m$i")
      .mkString(", ")
    val distChain = (1 to dims)
      .map(i => s"((x$i - m$i) * (x$i - m$i))").mkString(" + ")
    val roundCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) "m0" else s"mm${r - 1}"
      val csums = (1 to dims).map(i =>
        s"SUM(CAST(ROUND(x$i / dd, 9) AS DECIMAL(28,9))) AS t$i")
        .mkString(", ")
      val msel = (1 to dims).map(i =>
        s"COALESCE(ROUND(CAST(t$i AS DOUBLE) / CAST(tw AS DOUBLE), 6), p.m$i) AS m$i")
        .mkString(", ")
      s"""c$r AS (SELECT label, $csums,
                         SUM(CAST(ROUND(1.0 / dd, 9) AS DECIMAL(28,9))) AS tw
                  FROM (SELECT b.label, ${(1 to dims).map(i => s"b.x$i").mkString(", ")},
                               sqrt($distChain) AS dd
                        FROM b JOIN $prev USING (label))
                  WHERE dd > 0 GROUP BY label),
              mm$r AS (SELECT p.label, $msel
                       FROM $prev p LEFT JOIN c$r USING (label))"""
    }.mkString(",\n              ")
    s"""WITH b AS (SELECT CAST(label AS BIGINT) AS label, $xs
                    FROM embeddings
                    WHERE embedding IS NOT NULL AND len(embedding) >= $dims),
              m0 AS (SELECT label, $m0 FROM b GROUP BY label),
              $roundCtes
         SELECT label, ${(1 to dims).map(i => s"m$i").mkString(", ")}
         FROM mm$rounds ORDER BY label"""
  }

  /** Shared DuckDB oracle for q_mmr_rerank AND its persisted-index
    * deployment q_mmr_store (bit-identical at full probe). */
  private val mmrRerankOracle: String =
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
              pairs AS (SELECT q.qid, c.vec_id AS cid, q.qe, c.embedding AS ce
                        FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.qid),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT qid, cid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
                       FROM pairs, idx GROUP BY qid, cid),
              scored AS (SELECT qid, cid, ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) AS rel FROM dots),
              pool AS (SELECT qid, cid, rel FROM (
                         SELECT qid, cid, rel,
                                row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
                         FROM scored) WHERE rn <= 8),
              poolv AS (SELECT p.qid, p.cid, p.rel, e.embedding AS ce
                        FROM pool p JOIN embeddings e ON e.vec_id = p.cid),
              simd AS (SELECT x.qid, x.cid AS c1, y.cid AS c2,
                              SUM(CAST(ROUND(CAST(x.ce[i] AS DOUBLE) * CAST(y.ce[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS dot,
                              SUM(CAST(ROUND(CAST(x.ce[i] AS DOUBLE) * CAST(x.ce[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS n1,
                              SUM(CAST(ROUND(CAST(y.ce[i] AS DOUBLE) * CAST(y.ce[i] AS DOUBLE), 9) AS DECIMAL(20,9))) AS n2
                       FROM poolv x JOIN poolv y ON x.qid = y.qid AND x.cid <> y.cid, idx
                       GROUP BY x.qid, x.cid, y.cid),
              sims AS (SELECT qid, c1, c2,
                              ROUND(CAST(dot AS DOUBLE) /
                                    (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))), 6) AS sim
                       FROM simd),
              s1 AS (SELECT qid, cid, rel, rel AS mmr, CAST(1 AS INTEGER) AS pick FROM (
                       SELECT qid, cid, rel,
                              row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid ASC) AS rn
                       FROM pool) WHERE rn = 1),
              m2 AS (SELECT p.qid, p.cid, p.rel,
                            ROUND(0.7 * p.rel - (1.0 - 0.7) * MAX(s.sim), 6) AS mmr
                     FROM pool p
                     JOIN s1 ON s1.qid = p.qid AND p.cid <> s1.cid
                     JOIN sims s ON s.qid = p.qid AND s.c1 = p.cid AND s.c2 = s1.cid
                     GROUP BY p.qid, p.cid, p.rel),
              s2 AS (SELECT qid, cid, rel, mmr, CAST(2 AS INTEGER) AS pick FROM (
                       SELECT qid, cid, rel, mmr,
                              row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid ASC) AS rn
                       FROM m2) WHERE rn = 1),
              sel12 AS (SELECT qid, cid FROM s1 UNION ALL SELECT qid, cid FROM s2),
              m3 AS (SELECT p.qid, p.cid, p.rel,
                            ROUND(0.7 * p.rel - (1.0 - 0.7) * MAX(s.sim), 6) AS mmr
                     FROM pool p
                     JOIN sims s ON s.qid = p.qid AND s.c1 = p.cid
                     JOIN sel12 w ON w.qid = s.qid AND w.cid = s.c2
                     WHERE NOT EXISTS (SELECT 1 FROM sel12 z
                                       WHERE z.qid = p.qid AND z.cid = p.cid)
                     GROUP BY p.qid, p.cid, p.rel),
              s3 AS (SELECT qid, cid, rel, mmr, CAST(3 AS INTEGER) AS pick FROM (
                       SELECT qid, cid, rel, mmr,
                              row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, cid ASC) AS rn
                       FROM m3) WHERE rn = 1)
         SELECT qid AS query_id, cid AS neighbor_id, rel, mmr, pick
         FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
         ORDER BY query_id, pick"""

  /** Generated DuckDB oracle for q_markov_stationary: `iters` unrolled
    * power-iteration steps replaying
    * [[graft.ops.TemporalOps.markovStationary]]'s exact chain — 9dp
    * transition probabilities off exact counts, 9dp-rounded products
    * summed as DECIMAL(18,9) per destination, per-step renormalization
    * re-pinned to 9dp; final probabilities 6dp. MATERIALIZED per level
    * (the markovAttributionOracle lesson: un-materialized, DuckDB
    * inlines each level's whole predecessor chain and the plan
    * explodes). */
  private def markovStationaryOracle(iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT st, ROUND(CAST(raw AS DOUBLE) / CAST(SUM(raw) OVER () AS DOUBLE), 9) AS p
         |  FROM (SELECT s.st,
         |               COALESCE(SUM(CAST(ROUND(pv.p * t.p, 9) AS DECIMAL(18,9))), 0) AS raw
         |        FROM states s
         |        LEFT JOIN trans t ON t.dst = s.st
         |        LEFT JOIN l${k - 1} pv ON pv.st = t.src
         |        GROUP BY s.st))""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT user_id AS u, ts, event_id AS tie, event_type AS e
       |            FROM events
       |            WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
       |     prs AS (SELECT LAG(e) OVER (PARTITION BY u ORDER BY ts ASC, tie ASC) AS src, e AS dst
       |             FROM ev),
       |     cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
       |             FROM prs WHERE src IS NOT NULL GROUP BY 1, 2),
       |     tt AS (SELECT src, CAST(SUM(n) AS BIGINT) AS ts FROM cnt GROUP BY src),
       |     trans AS (SELECT c.src, c.dst, ROUND(CAST(c.n AS DOUBLE) / CAST(tt.ts AS DOUBLE), 9) AS p
       |               FROM cnt c JOIN tt USING (src)),
       |     states AS (SELECT DISTINCT src AS st FROM cnt),
       |     l0 AS (SELECT st, ROUND(1.0 / (SELECT COUNT(*) FROM states), 9) AS p FROM states),
       |$iterCtes
       |SELECT st AS state, ROUND(p, 6) AS stationary_prob
       |FROM l$iters ORDER BY state""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(

    "q_markov_stationary" -> markovStationaryOracle(30),

    // positional bigram join (≥2-token docs only, matching the kernel's
    // filtered Spark side); type/occurrence rollups per language
    "q_distinct_ngrams" ->
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS i
                    FROM documents WHERE text IS NOT NULL),
              u AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n1, CAST(COUNT(*) AS BIGINT) AS d1
                    FROM (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY lang, tok)
                    GROUP BY lang),
              bg AS (SELECT a.lang, a.tok || ' ' || b.tok AS g
                     FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
              b AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n2, CAST(COUNT(*) AS BIGINT) AS d2
                    FROM (SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY lang, g)
                    GROUP BY lang)
         SELECT u.lang, u.n1, u.d1, ROUND(CAST(u.d1 AS DOUBLE) / u.n1, 6) AS distinct1,
                b.n2, b.d2, ROUND(CAST(b.d2 AS DOUBLE) / b.n2, 6) AS distinct2
         FROM u JOIN b ON b.lang = u.lang
         ORDER BY u.lang""",

    "q_zipf_slope" ->
      """WITH v AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS freq
                    FROM (SELECT unnest(string_split(text, ' ')) AS t
                          FROM documents WHERE text IS NOT NULL)
                    GROUP BY t ORDER BY freq DESC, t ASC LIMIT 200),
              rk AS (SELECT freq,
                            CAST(row_number() OVER (ORDER BY freq DESC, t ASC) AS BIGINT) AS r
                     FROM v),
              xy AS (SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(28,6)) AS x,
                            CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(28,6)) AS y
                     FROM rk),
              s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
                           SUM(x) AS sx, SUM(y) AS sy,
                           SUM(x * y) AS sxy, SUM(x * x) AS sxx
                    FROM xy)
         SELECT n_terms,
                ROUND((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope
         FROM s""",

    "q_normalized_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       WHERE text IS NOT NULL AND doc_id < 50),
              allv AS (SELECT doc_id, text FROM base
                       UNION ALL
                       SELECT doc_id + 100000 AS doc_id,
                              '  ' || upper(text) || '  ' AS text FROM base),
              norm AS (SELECT doc_id,
                              trim(regexp_replace(lower(nfc_normalize(text)),
                                '\s+', ' ', 'g')) AS n
                       FROM allv)
         SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                CAST(COUNT(*) AS BIGINT) AS n_variants
         FROM norm GROUP BY md5(n) ORDER BY keep_id""",

    "q_winnow_pairs" ->
      """WITH pos AS (
           SELECT doc_id, i,
                  CAST(('0x' || substring(md5(substring(text, CAST(i AS INT), 8)), 1, 15)) AS BIGINT) AS h
           FROM documents, (SELECT unnest(generate_series(1, 2000)) AS i)
           WHERE i <= length(text) - 8 + 1),
              wmin AS (SELECT doc_id,
                              MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
                       FROM pos),
              f AS (SELECT DISTINCT doc_id AS id, fp FROM wmin),
              dfc AS (SELECT fp, COUNT(*) AS df FROM f GROUP BY fp),
              kept AS (SELECT f.id, f.fp FROM f JOIN dfc USING (fp) WHERE df <= 20)
         SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
         GROUP BY a.id, b.id HAVING COUNT(*) >= 10
         ORDER BY id1, id2""",

    "q_blocklist_filter" ->
      """WITH m AS (SELECT doc_id,
                           list_sort(list_filter(['slow scan', 'spark', 'vector'],
                             p -> contains(text, p))) AS mp
                    FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(len(mp) AS BIGINT) AS n_hits,
                COALESCE(array_to_string(mp, ','), '') AS matched_phrases,
                (len(mp) = 0) AS keep
         FROM m ORDER BY doc_id""",

    "q_blocklist_filter_ac" ->
      """WITH m AS (SELECT doc_id,
                           list_sort(list_filter(['slow scan', 'spark', 'vector'],
                             p -> contains(text, p))) AS mp
                    FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, CAST(len(mp) AS BIGINT) AS n_hits,
                COALESCE(array_to_string(mp, ','), '') AS matched_phrases,
                (len(mp) = 0) AS keep
         FROM m ORDER BY doc_id""",

    "q_lang_mix_segments" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                              generate_subscripts(string_split(text, ' '), 1) AS i
                       FROM documents WHERE text IS NOT NULL),
              segs AS (SELECT doc_id, (i - 1) // 10 AS sidx,
                              string_agg(tok, ' ' ORDER BY i) AS seg
                       FROM toks GROUP BY doc_id, (i - 1) // 10),
              lab AS (SELECT doc_id, sidx,
                             CASE WHEN regexp_matches(seg, '[一-鿿]') THEN 'zh'
                                  WHEN len(list_filter(string_split(seg, ' '), x -> x IN ('the','and','of','is'))) > 0 THEN 'en'
                                  WHEN len(list_filter(string_split(seg, ' '), x -> x IN ('el','la','los','es','y'))) > 0 THEN 'es'
                                  WHEN len(list_filter(string_split(seg, ' '), x -> x IN ('le','les','et','est'))) > 0 THEN 'fr'
                                  WHEN len(list_filter(string_split(seg, ' '), x -> x IN ('der','die','das','und','ist'))) > 0 THEN 'de'
                                  ELSE 'unknown' END AS lab
                      FROM segs),
              cnt AS (SELECT doc_id, lab, CAST(COUNT(*) AS BIGINT) AS c
                      FROM lab GROUP BY doc_id, lab),
              tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS ns,
                             CAST(COUNT(*) AS BIGINT) AS nl
                      FROM cnt GROUP BY doc_id),
              dom AS (SELECT doc_id, lab, c,
                             row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lab ASC) AS rn
                      FROM cnt)
         SELECT t.doc_id, t.ns AS n_segments, t.nl AS n_langs,
                d.lab AS dominant_lang,
                ROUND(CAST(d.c AS DOUBLE) / t.ns, 6) AS dominant_frac
         FROM tot t JOIN dom d ON d.doc_id = t.doc_id AND d.rn = 1
         ORDER BY t.doc_id""",

    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS c
                     FROM documents
                     WHERE doc_id < 100 AND text IS NOT NULL AND length(text) > 0),
              cnt AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS n
                      FROM ch GROUP BY doc_id, c),
              tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nn,
                             CAST(COUNT(*) AS BIGINT) AS nd
                      FROM cnt GROUP BY doc_id)
         SELECT t.doc_id, t.nn AS n_chars, t.nd AS n_distinct,
                CAST(SUM(CAST(ROUND(-(CAST(c.n AS DOUBLE) / t.nn) * ln(CAST(c.n AS DOUBLE) / t.nn), 6) AS DECIMAL(18,6))) AS DOUBLE) AS entropy
         FROM cnt c JOIN tot t USING (doc_id)
         GROUP BY t.doc_id, t.nn, t.nd ORDER BY t.doc_id""",

    "q_dup_degree_hist" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id),
              pairs AS (SELECT c.id1, c.id2 FROM cands c
                        JOIN common cm ON cm.id1 = c.id1 AND cm.id2 = c.id2
                        JOIN sizes s1 ON s1.id = c.id1
                        JOIN sizes s2 ON s2.id = c.id2
                        WHERE ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) >= 0.4),
              deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
                      FROM (SELECT id1 AS id FROM pairs UNION ALL SELECT id2 AS id FROM pairs)
                      GROUP BY id)
         SELECT COALESCE(deg.degree, 0) AS degree, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM documents d LEFT JOIN deg ON deg.id = d.doc_id
         GROUP BY 1 ORDER BY 1""",

    "q_bm25_batch" ->
      (bm25BatchOracleCore + """
         SELECT qid, doc_id, bm25, rnk FROM rk WHERE rnk <= 3
         ORDER BY qid, rnk"""),

    // identical decomposition: 6dp-rounded decimal-summed match terms,
    // one pinned double length-penalty chain, rank by the final rounded
    // score with (score desc, doc asc) ties
    "q_lm_dirichlet" ->
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS toks,
                                CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                         FROM documents WHERE text IS NOT NULL),
              stats AS (SELECT SUM(dl) AS total_tokens FROM corpus),
              q AS (SELECT DISTINCT doc_id AS qid, unnest(toks[1:5]) AS term
                    FROM corpus WHERE doc_id < 20),
              post0 AS (SELECT doc_id, dl, unnest(toks) AS term FROM corpus),
              qterm AS (SELECT DISTINCT term FROM q),
              postings AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
                           FROM post0 JOIN qterm USING (term)
                           GROUP BY doc_id, dl, term),
              cf AS (SELECT term, SUM(tf) AS cft FROM postings GROUP BY term),
              nq AS (SELECT qid, CAST(COUNT(*) AS DOUBLE) AS nq
                     FROM (SELECT DISTINCT q.qid, q.term
                           FROM q JOIN cf USING (term))
                     GROUP BY qid),
              contrib AS (SELECT q.qid, p.doc_id, p.dl,
                                 CAST(ROUND(ln(1.0 + p.tf * s.total_tokens /
                                      (50.0 * c.cft)), 6) AS DECIMAL(18,6)) AS c
                          FROM q JOIN postings p USING (term)
                               JOIN cf c USING (term) CROSS JOIN stats s),
              ds AS (SELECT qid, doc_id, dl, CAST(SUM(c) AS DECIMAL(18,6)) AS ms
                     FROM contrib GROUP BY qid, doc_id, dl),
              sc AS (SELECT ds.qid, ds.doc_id,
                            ROUND(CAST(ds.ms AS DOUBLE) +
                                  nq.nq * ln(50.0 / (ds.dl + 50.0)), 6) AS lm_score
                     FROM ds JOIN nq USING (qid)),
              rk AS (SELECT qid, doc_id, lm_score,
                            CAST(row_number() OVER (PARTITION BY qid
                              ORDER BY lm_score DESC, doc_id ASC) AS BIGINT) AS rnk
                     FROM sc)
         SELECT qid, doc_id, lm_score, rnk FROM rk WHERE rnk <= 3
         ORDER BY qid, rnk""",

    // the index-backed path must reproduce the batch operator exactly,
    // so it shares its oracle verbatim
    "q_bm25_index_topk" ->
      (bm25BatchOracleCore + """
         SELECT qid, doc_id, bm25, rnk FROM rk WHERE rnk <= 3
         ORDER BY qid, rnk"""),

    "q_self_retrieval_mrr" ->
      (bm25BatchOracleCore + """,
              hit AS (SELECT qid, rnk FROM rk WHERE doc_id = qid AND rnk <= 10),
              nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries FROM q)
         SELECT nq.n_queries,
                CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
                COALESCE(ROUND(CAST((SELECT SUM(CAST(ROUND(1.0 / rnk, 6) AS DECIMAL(18,6))) FROM hit) AS DOUBLE)
                               / nq.n_queries, 6), 0.0) AS mrr
         FROM nq"""),

    "q_budget_select_bpe" ->
      (s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE text IS NOT NULL
                      AND CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0),
              v AS (SELECT w, COUNT(*) AS freq FROM words WHERE w <> '' GROUP BY w),
              s0 AS (SELECT w, freq, '.' || regexp_replace(w, '(.)', """ +
        """'\1.', 'g') AS st FROM v),
              """ + bpeOracleRounds(6, batch = 3) + s""",
              fv AS (SELECT DISTINCT w FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
              f0 AS (SELECT w, '.' || regexp_replace(w, '(.)', """ +
        """'\1.', 'g') AS st FROM fv),
              """ + bpeOracleApplyRounds(6, batch = 3) + s""",
              wc AS (SELECT w, CAST(len(st) - len(replace(st, '.', '')) - 1 AS BIGINT) AS n_sub FROM f2),
              docw AS (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE text IS NOT NULL),
              dtok AS (SELECT doc_id, n_chars, SUM(COALESCE(n_sub, 0)) AS n_tokens
                       FROM docw LEFT JOIN wc USING (w) GROUP BY doc_id, n_chars),
              c AS (SELECT doc_id, n_chars, CAST(n_tokens AS BIGINT) AS n_tokens,
                           COALESCE(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                    FROM dtok)
         SELECT doc_id, n_chars, n_tokens FROM c WHERE cum < 20000 ORDER BY doc_id"""),

    "q_bpe_fertility" ->
      (s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM documents WHERE text IS NOT NULL
                      AND CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0),
              v AS (SELECT w, COUNT(*) AS freq FROM words WHERE w <> '' GROUP BY w),
              s0 AS (SELECT w, freq, '.' || regexp_replace(w, '(.)', """ +
        """'\1.', 'g') AS st FROM v),
              """ + bpeOracleRounds(6, batch = 3) + s""",
              fv AS (SELECT DISTINCT w FROM (SELECT unnest(string_split(text, ' ')) AS w
                     FROM documents WHERE text IS NOT NULL) WHERE w <> ''),
              f0 AS (SELECT w, '.' || regexp_replace(w, '(.)', """ +
        """'\1.', 'g') AS st FROM fv),
              """ + bpeOracleApplyRounds(6, batch = 3) + s""",
              wc AS (SELECT w, CAST(len(st) - len(replace(st, '.', '')) - 1 AS BIGINT) AS n_sub FROM f2),
              docw AS (SELECT lang, unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE text IS NOT NULL)
         SELECT lang, CAST(COUNT(w) AS BIGINT) AS n_words,
                CAST(SUM(COALESCE(n_sub, 0)) AS BIGINT) AS n_subwords,
                ROUND(CAST(SUM(COALESCE(n_sub, 0)) AS DOUBLE) / COUNT(w), 6) AS fertility
         FROM docw LEFT JOIN wc USING (w) GROUP BY lang ORDER BY lang"""),

    "q_waterfill_mix" ->
      """WITH t AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
                    FROM documents GROUP BY lang),
              r AS (SELECT lang, n_tokens,
                           CAST(row_number() OVER (ORDER BY n_tokens ASC, lang ASC) AS BIGINT) AS k,
                           CAST(SUM(n_tokens) OVER (ORDER BY n_tokens ASC, lang ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
                           CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS kk
                    FROM t),
              f AS (SELECT r.*, ((p - n_tokens) + (kk - k + 1) * n_tokens <= 60000) AS fullf FROM r),
              a AS (SELECT CAST(SUM(CASE WHEN fullf THEN n_tokens ELSE 0 END) AS BIGINT) AS pf,
                           CAST(SUM(CASE WHEN fullf THEN 1 ELSE 0 END) AS BIGINT) AS nf FROM f)
         SELECT lang, n_tokens,
                CASE WHEN fullf THEN CAST(n_tokens AS DOUBLE)
                     ELSE ROUND(CAST(60000 - a.pf AS DOUBLE) / (kk - a.nf), 6) END AS alloc_tokens,
                fullf AS fully_allocated
         FROM f CROSS JOIN a ORDER BY lang""",

    "q_feature_hashing" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                     FROM documents WHERE text IS NOT NULL),
              b AS (SELECT doc_id,
                           CAST(CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 16 AS BIGINT) AS bin,
                           CASE WHEN CAST(('0x' || substring(md5('s:' || t), 1, 15)) AS BIGINT) % 2 = 0
                                THEN 1 ELSE -1 END AS sg
                    FROM tk)
         SELECT doc_id, bin, CAST(SUM(sg) AS BIGINT) AS value
         FROM b GROUP BY doc_id, bin HAVING SUM(sg) <> 0
         ORDER BY doc_id, bin""",

    "q_cross_source_dups" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id),
              pairs AS (SELECT c.id1, c.id2 FROM cands c
                        JOIN common cm ON cm.id1 = c.id1 AND cm.id2 = c.id2
                        JOIN sizes s1 ON s1.id = c.id1
                        JOIN sizes s2 ON s2.id = c.id2
                        WHERE ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) >= 0.4)
         SELECT least(d1.source, d2.source) AS source_a,
                greatest(d1.source, d2.source) AS source_b,
                CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM pairs p
         JOIN documents d1 ON d1.doc_id = p.id1
         JOIN documents d2 ON d2.doc_id = p.id2
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_length_buckets" ->
      (s"""WITH l AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents WHERE text IS NOT NULL),
              b AS (SELECT n, CASE ${(0 to 20).map(b => s"WHEN n <= ${1L << b} THEN $b").mkString(" ")} ELSE 20 END AS bucket FROM l)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(POWER(2, bucket) AS BIGINT) AS cap,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n) AS BIGINT) AS total_tokens,
                CAST(COUNT(*) * CAST(POWER(2, bucket) AS BIGINT) AS BIGINT) AS padded_tokens,
                ROUND(CAST(COUNT(*) * CAST(POWER(2, bucket) AS BIGINT) - SUM(n) AS DOUBLE) /
                      (COUNT(*) * CAST(POWER(2, bucket) AS BIGINT)), 6) AS waste_ratio
         FROM b GROUP BY bucket ORDER BY bucket"""),

    "q_lsh_recall_audit" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              commonf AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                          FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                          GROUP BY a.id, b.id),
              est AS (SELECT c.id1, c.id2 FROM cands c
                      JOIN commonf cm ON cm.id1 = c.id1 AND cm.id2 = c.id2
                      JOIN sizes s1 ON s1.id = c.id1
                      JOIN sizes s2 ON s2.id = c.id2
                      WHERE ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) >= 0.4),
              kept AS (SELECT s.id, s.sh FROM sh s
                       JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d
                         ON d.sh = s.sh
                       WHERE d.df <= 50),
              commonk AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                          FROM kept a JOIN kept b ON a.sh = b.sh AND a.id < b.id
                          GROUP BY a.id, b.id),
              tru AS (SELECT id1, id2 FROM commonk
                      JOIN sizes s1 ON s1.id = id1
                      JOIN sizes s2 ON s2.id = id2
                      WHERE ROUND(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 4) >= 0.4)
         SELECT CAST((SELECT COUNT(*) FROM tru) AS BIGINT) AS n_true,
                CAST((SELECT COUNT(*) FROM est) AS BIGINT) AS n_est,
                CAST((SELECT COUNT(*) FROM tru JOIN est USING (id1, id2)) AS BIGINT) AS n_hit,
                ROUND(CAST((SELECT COUNT(*) FROM tru JOIN est USING (id1, id2)) AS DOUBLE)
                      / NULLIF((SELECT COUNT(*) FROM tru), 0), 6) AS recall,
                ROUND(CAST((SELECT COUNT(*) FROM tru JOIN est USING (id1, id2)) AS DOUBLE)
                      / NULLIF((SELECT COUNT(*) FROM est), 0), 6) AS prec""",

    "q_kneser_ney" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
              bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                     FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
              c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
              ctx AS (SELECT string_split(bg, ' ')[1] AS v, SUM(c2) AS cv, COUNT(*) AS n1f
                      FROM c2 GROUP BY 1),
              cont AS (SELECT string_split(bg, ' ')[2] AS w, COUNT(*) AS n1b
                       FROM c2 GROUP BY 1),
              bt AS (SELECT COUNT(*) AS bt FROM c2),
              lp AS (SELECT c2.bg,
                            ln((greatest(c2.c2 - 0.75, 0.0) +
                                0.75 * ctx.n1f * (CAST(cont.n1b AS DOUBLE) / bt.bt)) / ctx.cv) AS logp
                     FROM c2 JOIN ctx ON string_split(c2.bg, ' ')[1] = ctx.v
                             JOIN cont ON string_split(c2.bg, ' ')[2] = cont.w
                             CROSS JOIN bt)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                ROUND(AVG(logp), 6) + 0.0 AS avg_logprob_kn
         FROM bg JOIN lp USING (bg) GROUP BY doc_id ORDER BY doc_id""",

    "q_nb_classify" ->
      (nbOracleCore + """
         SELECT doc_id, actual, cls AS predicted, CAST(post AS DOUBLE) AS log_post,
                COALESCE(CAST(post - nxt AS DOUBLE), 0.0) AS margin
         FROM rk WHERE rn = 1 ORDER BY doc_id"""),

    "q_nb_confusion" ->
      (nbOracleCore + """
         SELECT actual, cls AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM rk WHERE rn = 1 GROUP BY actual, cls ORDER BY actual, predicted"""),

    "q_nb_threshold_sweep" ->
      (nbOracleCore + """,
              doc AS (SELECT doc_id, actual, cls AS predicted,
                             COALESCE(CAST(post - nxt AS DOUBLE), 0.0) AS margin
                      FROM rk WHERE rn = 1),
              tgrid AS (SELECT unnest([0.0, 0.5, 1.0, 2.0, 4.0, 8.0]) AS threshold),
              stot AS (SELECT COUNT(*) AS n FROM doc)
         SELECT g.threshold,
                CAST(SUM(CASE WHEN d.margin >= g.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_routed,
                CAST(SUM(CASE WHEN d.margin >= g.threshold AND d.actual = d.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                ROUND(CAST(SUM(CASE WHEN d.margin >= g.threshold THEN 1 ELSE 0 END) AS DOUBLE) / MAX(stot.n), 6) AS coverage,
                ROUND(CAST(SUM(CASE WHEN d.margin >= g.threshold AND d.actual = d.predicted THEN 1 ELSE 0 END) AS DOUBLE)
                      / NULLIF(SUM(CASE WHEN d.margin >= g.threshold THEN 1 ELSE 0 END), 0), 6) AS accuracy
         FROM doc d CROSS JOIN tgrid g CROSS JOIN stot
         GROUP BY g.threshold ORDER BY g.threshold"""),

    "q_domain_scorecard" ->
      """WITH f AS (SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
         FROM documents WHERE text IS NOT NULL),
              k AS (SELECT doc_id, source, n_tokens,
                           ((n_tokens BETWEEN 20 AND 80)
                            AND (avg_token_len >= 3.0 AND avg_token_len <= 10.0)
                            AND (symbol_ratio <= 0.1)
                            AND (alpha_ratio >= 0.8)
                            AND (n_stop_hits >= 2)) AS keep
                    FROM f)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate,
                ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens
         FROM k GROUP BY source ORDER BY source""",

    "q_cut_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
                               CAST(j - 1 AS BIGINT) AS pos,
                               CAST(('0x' || substring(md5(array_to_string(t[j:j+3], ' ')), 1, 15)) AS BIGINT) AS sh
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 3, 1)),
              dup AS (SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS df
                                      FROM grams GROUP BY sh) WHERE df >= 2),
              hits AS (SELECT g.doc_id, g.pos, g.dl FROM grams g JOIN dup USING (sh)),
              isl AS (SELECT doc_id, pos, dl,
                             CASE WHEN MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                                    OR pos > MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                                  THEN 1 ELSE 0 END AS ni
                      FROM hits),
              isl2 AS (SELECT doc_id, pos, dl,
                              SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
                       FROM isl),
              spans AS (SELECT doc_id, MIN(pos) AS span_start,
                               least(MAX(pos) + 3, MAX(dl) - 1) AS span_end
                        FROM isl2 GROUP BY doc_id, isle),
              tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                            CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS i0
                     FROM documents WHERE text IS NOT NULL),
              kept AS (SELECT tk.doc_id, tk.tok, tk.i0 FROM tk
                       WHERE NOT EXISTS (SELECT 1 FROM spans s
                                         WHERE s.doc_id = tk.doc_id
                                           AND tk.i0 BETWEEN s.span_start AND s.span_end)),
              agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i0) AS text_cut,
                             CAST(COUNT(*) AS BIGINT) AS n_kept
                      FROM kept GROUP BY doc_id),
              lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                       FROM documents WHERE text IS NOT NULL)
         SELECT l.doc_id, COALESCE(a.text_cut, '') AS text_cut, l.n_tokens,
                COALESCE(a.n_kept, 0) AS n_tokens_kept,
                l.n_tokens - COALESCE(a.n_kept, 0) AS n_tokens_cut
         FROM lens l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id""",

    "q_curriculum_interleave" ->
      """WITH r AS (SELECT doc_id, lang,
                           CAST(row_number() OVER (PARTITION BY lang ORDER BY
                             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
                             doc_id ASC) AS BIGINT) AS r,
                           COUNT(*) OVER (PARTITION BY lang) AS n
                    FROM documents),
              k AS (SELECT doc_id, lang, r AS pos_in_stratum,
                           (CAST(r AS DOUBLE) - 0.5) / n AS key
                    FROM r)
         SELECT doc_id, lang, pos_in_stratum, ROUND(key, 6) AS interleave_key,
                CAST(row_number() OVER (ORDER BY key ASC, lang ASC, doc_id ASC) AS BIGINT) AS global_ord
         FROM k ORDER BY doc_id""",

    "q_window_filter_extract" ->
      """SELECT event_id, ts, user_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
         ORDER BY ts, event_id""",

    "q_projection" ->
      "SELECT event_id, user_id, value FROM events ORDER BY event_id",

    "q_multikey_sort" ->
      """SELECT event_id, user_id, ts FROM events
         ORDER BY user_id ASC, ts DESC, event_id ASC LIMIT 100""",

    "q_schema_normalize" ->
      """SELECT event_id, event_type, ts, CAST(NULL AS VARCHAR) AS missing_col
         FROM events ORDER BY event_id""",

    "q_key_cast" ->
      "SELECT CAST(event_id AS VARCHAR) AS _id, event_type FROM events ORDER BY _id",

    "q_ts_parse_coerce" ->
      """SELECT event_id,
                CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts_parsed,
                TRY_CAST(event_type AS TIMESTAMP) AS ts_bad
         FROM events ORDER BY event_id""",

    "q_json_extract" ->
      "SELECT event_id, props ->> 'k' AS props_k FROM events ORDER BY event_id",

    "q_json_typed_flatten" ->
      "SELECT event_id, CAST(props ->> 'k' AS BIGINT) AS props_k FROM events ORDER BY event_id",

    "q_lineage_tag" ->
      "SELECT event_id, 'run_2024_01_demo' AS run_id FROM events ORDER BY event_id",

    "q_staging_filter" ->
      """SELECT event_id, event_type, value FROM events
         WHERE event_type = 'purchase' ORDER BY event_id""",

    "q_dedup_latest" ->
      """SELECT user_id, event_id, ts FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
         ORDER BY user_id""",

    "q_dedup_exact_key" ->
      """SELECT user_id, event_type, event_id FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) = 1
         ORDER BY user_id, event_type""",

    "q_upsert_merge" ->
      """WITH t AS (SELECT * FROM events WHERE event_id % 4 <> 0),
              u AS (SELECT event_id, ts, user_id, event_type, value + 1000.0 AS value, props
                    FROM events WHERE event_id % 2 = 0)
         SELECT COALESCE(t.event_id, u.event_id) AS event_id,
                CASE WHEN t.event_id IS NOT NULL THEN t.ts ELSE u.ts END AS ts,
                CASE WHEN t.event_id IS NOT NULL THEN t.user_id ELSE u.user_id END AS user_id,
                CASE WHEN t.event_id IS NOT NULL THEN t.event_type ELSE u.event_type END AS event_type,
                CASE WHEN u.event_id IS NOT NULL THEN u.value ELSE t.value END AS value,
                CASE WHEN u.event_id IS NOT NULL THEN u.props ELSE t.props END AS props
         FROM t FULL OUTER JOIN u ON t.event_id = u.event_id
         ORDER BY event_id""",

    "q_qc_profile" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS not_null_event_id,
                CAST(COUNT(event_id) - COUNT(DISTINCT event_id) AS BIGINT) AS unique_event_id,
                CAST(SUM(CASE WHEN event_type IS NOT NULL AND NOT regexp_matches(event_type, '^[a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS regex_event_type,
                CAST(SUM(CASE WHEN props IS NOT NULL AND TRY_CAST(props AS VARCHAR) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS type_props_string,
                CAST(CASE WHEN MAX(ts) >= TIMESTAMP '2024-01-01 00:00:00' THEN 0 ELSE 1 END AS BIGINT) AS freshness_ts
         FROM events""",

    "q_qc_fk_orphans" ->
      """SELECT 'fk_o_custkey_refs_c_custkey' AS rule,
                CAST(COUNT(*) AS BIGINT) AS violations
         FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM customer
                           WHERE c_acctbal >= 0 AND c_custkey = o_custkey)""",

    "q_qc_quarantine" ->
      """SELECT COALESCE(CASE WHEN NOT COALESCE(value <= 250, FALSE) THEN 'value_le_250'
                              WHEN NOT COALESCE(user_id < 900, FALSE) THEN 'user_id_lt_900'
                              WHEN props IS NULL THEN 'not_null_props'
                         END, 'pass') AS reason,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY 1 ORDER BY reason""",

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, m AS metric,
                CASE m WHEN 'l_quantity' THEN l_quantity
                       WHEN 'l_extendedprice' THEN l_extendedprice
                       ELSE l_tax END AS val
         FROM lineitem,
              (SELECT unnest(['l_extendedprice', 'l_quantity', 'l_tax']) AS m)
         WHERE l_orderkey < 100
         ORDER BY l_orderkey, l_linenumber, metric, val""",

    "q_first_last_value" ->
      """SELECT o_custkey, o_orderkey,
                first_value(o_totalprice) OVER w AS first_price,
                last_value(o_totalprice) OVER w AS last_price,
                nth_value(o_totalprice, 2) OVER w AS second_price
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",

    "q_string_agg" ->
      """SELECT o_orderstatus,
                string_agg(CAST(o_orderkey AS VARCHAR), ','
                           ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders WHERE o_orderkey < 100
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_count_reconcile" ->
      """SELECT a.src_count, b.dst_count, a.src_count = b.dst_count AS ok
         FROM (SELECT CAST(COUNT(*) AS BIGINT) AS src_count FROM events
               WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00') a
         CROSS JOIN (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS dst_count FROM events
               WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00') b""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE) AS sum_charge,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
                CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
                CAST(COUNT(*) AS BIGINT) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q3_top_revenue_orders" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $revenueExpr AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
          GROUP BY l_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",

    "q5_local_supplier_volume" ->
      s"""SELECT n_name, $revenueExpr AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY n_name
          ORDER BY revenue DESC, n_name ASC""",

    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount BETWEEN 0.02 AND 0.06
           AND l_quantity < 24""",

    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey, $revenueExpr AS total_revenue
                       FROM lineitem
                       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                         AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
                       GROUP BY l_suppkey)
          SELECT s_suppkey, s_name, total_revenue
          FROM rev JOIN supplier ON l_suppkey = s_suppkey
          WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
          ORDER BY s_suppkey""",

    "q7_nation_trade" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(o_orderdate) AS BIGINT) AS yr, $revenueExpr AS volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_name < n2.n_name
          GROUP BY 1, 2, 3
          HAVING $revenueExpr > 1000000
          ORDER BY supp_nation, cust_nation, yr""",

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                ROUND(
                  CAST(SUM(CASE WHEN n_name = 'CHINA'
                                THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                                ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) /
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE),
                6) AS mkt_share
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1 ORDER BY yr""",

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, $revenueExpr AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE l_returnflag = 'R'
          GROUP BY c_custkey, c_name
          ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",

    "q16_supplier_cnt" ->
      """SELECT p_brand, p_type, p_size,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""",

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, total_qty
         FROM orders
         JOIN (SELECT l_orderkey,
                      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
               FROM lineitem GROUP BY l_orderkey
               HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150) b
           ON o_orderkey = b.l_orderkey
         ORDER BY total_qty DESC, o_orderkey ASC LIMIT 50""",

    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 25)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 40 AND l_quantity BETWEEN 20 AND 35)""",

    "q22_dormant_customers" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q2_min_price_part" ->
      """SELECT p_partkey, p_name, p_type, p_retailprice
         FROM part p
         WHERE p_size <= 15
           AND p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2
                                WHERE p2.p_type = p.p_type AND p2.p_size <= 15)
         ORDER BY p_type, p_partkey""",

    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS profit
         FROM lineitem
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN part ON p_partkey = l_partkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN nation ON n_nationkey = s_nationkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2
         ORDER BY nation ASC, o_year DESC""",

    "q11_supplier_share" ->
      """SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
         WHERE s_nationkey < 8
         GROUP BY l_suppkey
         HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) >
                (SELECT CAST(0.02 AS DECIMAL(8,4)) * SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                 FROM lineitem JOIN supplier ON s_suppkey = l_suppkey WHERE s_nationkey < 8)
         ORDER BY total_value DESC, l_suppkey ASC""",

    "q20_volume_shippers" ->
      """WITH shipped AS (
           SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
           FROM lineitem GROUP BY l_suppkey, l_partkey)
         SELECT s_suppkey, s_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
           AND s_suppkey IN (
             SELECT sh.l_suppkey FROM shipped sh
             WHERE sh.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
               AND sh.qty > CAST(0.1 AS DECIMAL(4,3)) *
                   (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) FROM lineitem l2
                    WHERE l2.l_partkey = sh.l_partkey))
         ORDER BY s_suppkey""",

    "q21_waiting_suppliers" ->
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         FROM supplier
         JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN nation ON n_nationkey = s_nationkey
         WHERE o.o_orderstatus = 'F'
           AND l1.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o3.o_orderdate + INTERVAL '60' DAY)
         GROUP BY s_name
         ORDER BY numwait DESC, s_name ASC""",

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
           FROM orders)
         WHERE rn <= 2 ORDER BY o_custkey, rn""",

    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "q_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 100""",

    "q_topk_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 20""",

    "q_union_distinct" ->
      """SELECT DISTINCT custkey FROM (
           SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
           UNION ALL
           SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
         ORDER BY custkey""",

    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "q_rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""",

    "q_agg_distinct" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_events_sliding_window" ->
      """SELECT date_trunc('day', ts) - to_days(o) AS ws, event_type,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events, (SELECT unnest([0, 1]) AS o)
         GROUP BY 1, 2 ORDER BY ws, event_type""",

    "q_events_tumbling_window" ->
      """SELECT date_trunc('day', ts) AS day, event_type,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",

    "q_freshness_by_type" ->
      """SELECT event_type, MAX(ts) AS max_ts, MIN(ts) AS min_ts,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_text_stats" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars_m,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords,
                md5(text) AS fingerprint
         FROM documents ORDER BY doc_id""",

    "q_word_frequency" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""",

    // the approximate plan's estimates are exact at this sketch width (a
    // deviation needs a collision in every CMS row), so the oracle is the
    // exact top-k word count
    "q_approx_top_words" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS n_est
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents
               WHERE text IS NOT NULL)
         GROUP BY word ORDER BY n_est DESC, word ASC LIMIT 20""",

    // Okapi BM25 with the exact operand order of the Spark plan: tf/df/dl/N
    // are integers, avgdl is an exact double (integer-valued doubles sum
    // exactly), the score is a fixed-order left-assoc sum rounded to 6
    "q_bm25_topk" ->
      """WITH corpus AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           FROM documents WHERE text IS NOT NULL),
         stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
                   FROM corpus),
         postings AS (SELECT doc_id, dl, unnest(toks) AS term FROM corpus),
         tf AS (SELECT doc_id, dl,
                       SUM(CASE WHEN term = 'dup'  THEN 1 ELSE 0 END) AS tf_0,
                       SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS tf_1,
                       SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS tf_2
                FROM postings WHERE term IN ('dup', 'join', 'hash')
                GROUP BY doc_id, dl),
         dfs AS (SELECT COUNT(DISTINCT CASE WHEN term = 'dup'  THEN doc_id END) AS df_0,
                        COUNT(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df_1,
                        COUNT(DISTINCT CASE WHEN term = 'hash' THEN doc_id END) AS df_2
                 FROM postings WHERE term IN ('dup', 'join', 'hash')),
         scored AS (
           SELECT doc_id, ROUND(0.0
             + CASE WHEN CAST(tf_0 AS DOUBLE) > 0 THEN
                 ln(1.0 + (n_docs - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
                 * CAST(tf_0 AS DOUBLE) * 2.2
                 / (CAST(tf_0 AS DOUBLE) + (0.25 + (dl / avgdl) * 0.75) * 1.2)
               ELSE 0.0 END
             + CASE WHEN CAST(tf_1 AS DOUBLE) > 0 THEN
                 ln(1.0 + (n_docs - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
                 * CAST(tf_1 AS DOUBLE) * 2.2
                 / (CAST(tf_1 AS DOUBLE) + (0.25 + (dl / avgdl) * 0.75) * 1.2)
               ELSE 0.0 END
             + CASE WHEN CAST(tf_2 AS DOUBLE) > 0 THEN
                 ln(1.0 + (n_docs - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
                 * CAST(tf_2 AS DOUBLE) * 2.2
                 / (CAST(tf_2 AS DOUBLE) + (0.25 + (dl / avgdl) * 0.75) * 1.2)
               ELSE 0.0 END, 6) AS bm25
           FROM tf CROSS JOIN dfs CROSS JOIN stats)
         SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
         ORDER BY bm25 DESC, doc_id ASC LIMIT 20""",

    "q_quality_score" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS BIGINT) AS n_stopwords,
                ROUND(CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stopword_ratio,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_token_len
         FROM documents ORDER BY doc_id""",

    "q_gopher_filter" ->
      """WITH f AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
         FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, n_tokens, avg_token_len, symbol_ratio, alpha_ratio,
                n_stop_hits,
                (n_tokens BETWEEN 20 AND 80) AS rule_len,
                (avg_token_len >= 3.0 AND avg_token_len <= 10.0) AS rule_avg_len,
                (symbol_ratio <= 0.1) AS rule_symbols,
                (alpha_ratio >= 0.8) AS rule_alpha,
                (n_stop_hits >= 2) AS rule_stop,
                ((n_tokens BETWEEN 20 AND 80)
                 AND (avg_token_len >= 3.0 AND avg_token_len <= 10.0)
                 AND (symbol_ratio <= 0.1)
                 AND (alpha_ratio >= 0.8)
                 AND (n_stop_hits >= 2)) AS keep
         FROM f ORDER BY doc_id""",

    "q_lang_id" ->
      """SELECT doc_id, lang,
                CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','is'))) > 0 THEN 'en'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('el','la','los','es','y'))) > 0 THEN 'es'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('le','les','et','est'))) > 0 THEN 'fr'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('der','die','das','und','ist'))) > 0 THEN 'de'
                     ELSE 'unknown' END AS lang_pred
         FROM documents ORDER BY doc_id""",

    "q_langid_confusion" ->
      """SELECT lang AS true_lang,
                CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','is'))) > 0 THEN 'en'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('el','la','los','es','y'))) > 0 THEN 'es'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('le','les','et','est'))) > 0 THEN 'fr'
                     WHEN len(list_filter(string_split(text, ' '), x -> x IN ('der','die','das','und','ist'))) > 0 THEN 'de'
                     ELSE 'unknown' END AS predicted_lang,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2 ORDER BY true_lang, predicted_lang""",

    "q_dedup_exact_content" ->
      """SELECT md5(text) AS fingerprint, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                CAST(COUNT(*) AS BIGINT) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY keep_id""",

    "q_containment_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              kept AS (SELECT s.id, s.sh FROM sh s
                       JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d
                         ON d.sh = s.sh
                       WHERE d.df <= 50),
              common AS (SELECT a.id AS id_sub, b.id AS id_super, CAST(COUNT(*) AS BIGINT) AS c
                         FROM kept a JOIN kept b ON a.sh = b.sh AND a.id <> b.id
                         GROUP BY a.id, b.id)
         SELECT id_sub, id_super, ROUND(CAST(c AS DOUBLE) / s1.sz, 4) AS containment
         FROM common JOIN sizes s1 ON s1.id = id_sub
         WHERE ROUND(CAST(c AS DOUBLE) / s1.sz, 4) >= 0.5
         ORDER BY id_sub, id_super""",

    // identical synthesized URLs + the identical canonicalization surgery
    // (scheme/host lowercase, userinfo strip, www. strip, default-port
    // drop, tracking-param filter + param sort, trailing-slash collapse,
    // fragment-FIRST strip so a '?' inside a fragment never reads as query)
    "q_url_canonicalize" ->
      """WITH raw AS (
           SELECT doc_id,
                  CASE CAST(doc_id % 4 AS INTEGER)
                    WHEN 0 THEN 'https://WWW.h' || ((doc_id // 4) % 20) || '.Example.COM/articles/' || (doc_id // 4) || '/?utm_source=rss&ref=tw&b=2&a=1#top'
                    WHEN 1 THEN 'HTTPS://h' || ((doc_id // 4) % 20) || '.EXAMPLE.com:443/articles/' || (doc_id // 4)
                    WHEN 2 THEN 'https://h' || ((doc_id // 4) % 20) || '.example.com/articles/' || (doc_id // 4) || '?a=1&b=2'
                    ELSE 'http://h' || ((doc_id // 4) % 20) || '.example.com:80/articles/' || (doc_id // 4) || '/'
                  END AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
                  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS hostport,
                  regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS afterhost,
                  regexp_extract(regexp_extract(url, '^([^#]*)', 1), '\?(.*)$', 1) AS rawq
           FROM raw),
         comp AS (
           SELECT doc_id, scheme,
                  regexp_replace(regexp_replace(regexp_replace(lower(hostport), '^.*@', ''), ':[0-9]*$', ''), '^(www\.)+', '') AS host,
                  regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                  regexp_replace(regexp_extract(afterhost, '^([^?#]*)', 1), '/+$', '') AS path1,
                  list_sort(list_filter(string_split(rawq, '&'),
                    p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)(=.*)?$'))) AS kept
           FROM parts),
         c AS (
           SELECT doc_id,
                  scheme || '://' || host ||
                  CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                            AND NOT (scheme = 'https' AND port = '443')
                       THEN ':' || port ELSE '' END ||
                  CASE WHEN path1 = '' THEN '/' ELSE path1 END ||
                  CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
                    AS canonical_url
           FROM comp)
         SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants,
                CAST(MIN(doc_id) AS BIGINT) AS keep_id
         FROM c GROUP BY canonical_url ORDER BY keep_id""",

    // the connector ships exactly the parquet rows' values (the JSONL
    // export is a lossless integer/string round trip), so the oracle is
    // the plain relational form over the same fixture table
    "q_docstore_scan" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         WHERE doc_id >= 100 AND n_chars >= 200
         GROUP BY lang, source
         ORDER BY lang, source""",

    "q_ngram_jaccard_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              kept AS (SELECT s.id, s.sh FROM sh s
                       JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d
                         ON d.sh = s.sh
                       WHERE d.df <= 50),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM kept a JOIN kept b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id)
         SELECT id1, id2,
                ROUND(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 4) AS jaccard
         FROM common
         JOIN sizes s1 ON s1.id = id1
         JOIN sizes s2 ON s2.id = id2
         WHERE ROUND(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 4) >= 0.5
         ORDER BY id1, id2""",

    // the prefix-filtered join is output-identical to the inverted-index
    // form by construction (candidate superset + exact verification), so
    // the oracle is the same brute-force statement
    "q_jaccard_prefix" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              kept AS (SELECT s.id, s.sh FROM sh s
                       JOIN (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d
                         ON d.sh = s.sh
                       WHERE d.df <= 50),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM kept a JOIN kept b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id)
         SELECT id1, id2,
                ROUND(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 4) AS jaccard
         FROM common
         JOIN sizes s1 ON s1.id = id1
         JOIN sizes s2 ON s2.id = id2
         WHERE ROUND(CAST(c AS DOUBLE) / (s1.sz + s2.sz - c), 4) >= 0.8
         ORDER BY id1, id2""",

    "q_chunk_docs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
              starts AS (SELECT doc_id, toks,
                unnest(generate_series(0, CASE WHEN n <= 16 THEN CAST(0 AS BIGINT)
                  ELSE CAST(ceil((n - 16) / 8.0) AS BIGINT) END)) AS chunk_id FROM n)
         SELECT doc_id, chunk_id,
                array_to_string(list_slice(toks, chunk_id*8 + 1, chunk_id*8 + 16), ' ') AS chunk_text,
                CAST(len(list_slice(toks, chunk_id*8 + 1, chunk_id*8 + 16)) AS INT) AS n_tokens
         FROM starts ORDER BY doc_id, chunk_id""",

    "q_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
              vocab AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
              tot AS (SELECT sum(c) AS n FROM vocab),
              lp AS (SELECT t, ln(c / (SELECT n FROM tot)) AS logp FROM vocab)
         SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS avg_logprob
         FROM tok JOIN lp USING (t) GROUP BY doc_id ORDER BY doc_id""",

    "q_bigram_logprob" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
              bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                     FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
              c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
              c1 AS (SELECT tok, COUNT(*) AS c1 FROM t GROUP BY tok),
              lp AS (SELECT c2.bg, ln(CAST(c2.c2 AS DOUBLE) / c1.c1) AS logp
                     FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.tok)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                ROUND(AVG(logp), 6) + 0.0 AS avg_logprob
         FROM bg JOIN lp USING (bg) GROUP BY doc_id ORDER BY doc_id""",

    "q_perplexity_buckets" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
              bg AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                     FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
              c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
              c1 AS (SELECT tok, COUNT(*) AS c1 FROM t GROUP BY tok),
              lpt AS (SELECT c2.bg, ln(CAST(c2.c2 AS DOUBLE) / c1.c1) AS logp
                      FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.tok),
              lp AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                            ROUND(AVG(logp), 6) + 0.0 AS avg_logprob
                     FROM bg JOIN lpt USING (bg) GROUP BY doc_id),
              j AS (SELECT d.doc_id, d.lang, lp.n_bigrams, lp.avg_logprob
                    FROM documents d JOIN lp USING (doc_id)),
              r AS (SELECT doc_id, lang, n_bigrams, avg_logprob,
                           ROUND(percent_rank() OVER (PARTITION BY lang
                               ORDER BY avg_logprob DESC, doc_id ASC), 6) AS pct_rank
                    FROM j)
         SELECT doc_id, lang, n_bigrams, avg_logprob, pct_rank,
                CASE WHEN pct_rank <= 1.0/3 THEN 'head'
                     WHEN pct_rank <= 2.0/3 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
         FROM r ORDER BY doc_id""",

    "q_pmi_collocations" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS i
                    FROM documents WHERE text IS NOT NULL),
              bg AS (SELECT a.tok || ' ' || b.tok AS bg
                     FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
              c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS pair_count
                     FROM bg GROUP BY bg HAVING COUNT(*) >= 3),
              c1 AS (SELECT tok, COUNT(*) AS c1 FROM t GROUP BY tok),
              tot AS (SELECT COUNT(*) AS total_toks FROM t)
         SELECT c2.bg, pair_count,
                ROUND(ln(CAST(pair_count AS DOUBLE) * total_toks /
                         (CAST(ca.c1 AS DOUBLE) * cb.c1)), 6) AS pmi
         FROM c2
         CROSS JOIN tot
         JOIN c1 ca ON string_split(c2.bg, ' ')[1] = ca.tok
         JOIN c1 cb ON string_split(c2.bg, ' ')[2] = cb.tok
         ORDER BY pmi DESC, bg ASC LIMIT 30""",

    "q_token_spectrum" ->
      """WITH c AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
              v AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS freq FROM c GROUP BY t)
         SELECT freq, CAST(COUNT(*) AS BIGINT) AS n_tokens
         FROM v GROUP BY freq ORDER BY freq LIMIT 20""",

    "q_segment_dedup" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                              generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
              segs AS (SELECT doc_id, CAST((i-1)//3 AS BIGINT) AS seg_idx,
                              string_agg(tok, ' ' ORDER BY i) AS seg
                       FROM toks GROUP BY doc_id, (i-1)//3),
              cnt AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg),
              mark AS (SELECT s.doc_id, s.seg_idx, s.seg, (c.nd <= 2) AS keep
                       FROM segs s JOIN cnt c USING (seg))
         SELECT doc_id,
                string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx) AS text_deduped,
                CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         FROM mark GROUP BY doc_id
         HAVING SUM(CASE WHEN keep THEN 1 ELSE 0 END) > 0
         ORDER BY doc_id""",

    "q_boilerplate_by_source" ->
      """WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
                              generate_subscripts(string_split(text, ' '), 1) AS i
                       FROM documents WHERE text IS NOT NULL),
              segs AS (SELECT doc_id, source, (i-1)//3 AS seg_idx,
                              string_agg(tok, ' ' ORDER BY i) AS seg
                       FROM toks GROUP BY doc_id, source, (i-1)//3),
              c AS (SELECT source, seg, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
                    FROM segs GROUP BY source, seg)
         SELECT source, seg, n_docs FROM c WHERE n_docs >= 3
         ORDER BY source, seg""",

    "q_dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
                               CAST(j - 1 AS BIGINT) AS pos,
                               CAST(('0x' || substring(md5(array_to_string(t[j:j+3], ' ')), 1, 15)) AS BIGINT) AS sh
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 3, 1)),
              dup AS (SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS df
                                      FROM grams GROUP BY sh) WHERE df >= 2),
              hits AS (SELECT g.doc_id, g.pos, g.dl FROM grams g JOIN dup USING (sh)),
              isl AS (SELECT doc_id, pos, dl,
                             CASE WHEN MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                                    OR pos > MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                                  THEN 1 ELSE 0 END AS ni
                      FROM hits),
              isl2 AS (SELECT doc_id, pos, dl,
                              SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
                       FROM isl),
              spans AS (SELECT doc_id, MIN(pos) AS span_start,
                               least(MAX(pos) + 3, MAX(dl) - 1) AS span_end,
                               CAST(COUNT(*) AS BIGINT) AS n_dup_grams
                        FROM isl2 GROUP BY doc_id, isle)
         SELECT doc_id, span_start, span_end,
                span_end - span_start + 1 AS span_tokens, n_dup_grams
         FROM spans ORDER BY doc_id, span_start""",

    "q_dup_ratio" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
                               CAST(j - 1 AS BIGINT) AS pos,
                               CAST(('0x' || substring(md5(array_to_string(t[j:j+3], ' ')), 1, 15)) AS BIGINT) AS sh
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 3, 1)),
              dup AS (SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS df
                                      FROM grams GROUP BY sh) WHERE df >= 2),
              hits AS (SELECT g.doc_id, g.pos, g.dl FROM grams g JOIN dup USING (sh)),
              isl AS (SELECT doc_id, pos, dl,
                             CASE WHEN MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                                    OR pos > MAX(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                                  THEN 1 ELSE 0 END AS ni
                      FROM hits),
              isl2 AS (SELECT doc_id, pos, dl,
                              SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isle
                       FROM isl),
              spans AS (SELECT doc_id, MIN(pos) AS span_start,
                               least(MAX(pos) + 3, MAX(dl) - 1) AS span_end
                        FROM isl2 GROUP BY doc_id, isle),
              perdoc AS (SELECT doc_id,
                                CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
                         FROM spans GROUP BY doc_id),
              alldocs AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                          FROM documents WHERE text IS NOT NULL)
         SELECT a.doc_id, a.n_tokens, COALESCE(p.dup_tokens, 0) AS dup_tokens,
                ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / a.n_tokens, 6) AS dup_ratio
         FROM alldocs a LEFT JOIN perdoc p USING (doc_id) ORDER BY a.doc_id""",

    "q_tfidf_topterms" ->
      """WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              tfc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tf GROUP BY doc_id, term),
              dfc AS (SELECT term, COUNT(*) AS dfreq FROM tfc GROUP BY term),
              n AS (SELECT COUNT(*) AS n_docs FROM documents),
              scored AS (SELECT doc_id, term, tf,
                                tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq) AS raw_score
                         FROM tfc JOIN dfc USING (term), n),
              ranked AS (SELECT doc_id, term, tf, ROUND(raw_score, 6) AS score,
                                CAST(row_number() OVER (PARTITION BY doc_id
                                    ORDER BY raw_score DESC, term ASC) AS BIGINT) AS rank
                         FROM scored)
         SELECT doc_id, term, tf, score, rank
         FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",

    "q_corpus_stats" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         FROM documents GROUP BY lang ORDER BY lang""",

    "q_pq_rerank" ->
      """SELECT vec_id AS query_id, TRUE AS recall_monotone
         FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
         ORDER BY query_id""",

    "q_mode_median" ->
      """WITH counts AS (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
                         FROM lineitem GROUP BY l_returnflag, l_quantity),
              mode AS (SELECT l_returnflag, l_quantity AS mode_qty
                       FROM (SELECT l_returnflag, l_quantity,
                                    row_number() OVER (PARTITION BY l_returnflag
                                        ORDER BY cnt DESC, l_quantity ASC) AS rn
                             FROM counts) WHERE rn = 1),
              med AS (SELECT l_returnflag,
                             ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, mode_qty, median_qty, n
         FROM mode JOIN med USING (l_returnflag) ORDER BY l_returnflag""",

    "q_dedup_keep_best" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              lab AS (SELECT d.doc_id, d.n_chars, COALESCE(l.label, d.doc_id) AS cl
                      FROM documents d LEFT JOIN l3 l ON l.id = d.doc_id),
              best AS (SELECT doc_id, n_chars,
                              row_number() OVER (PARTITION BY cl
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn,
                              CAST(COUNT(*) OVER (PARTITION BY cl) AS BIGINT) AS n_members
                       FROM lab)
         SELECT doc_id, n_chars, n_members
         FROM best WHERE rn = 1 ORDER BY doc_id""",

    "q_bigram_top" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                           generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
              bg AS (SELECT a.tok || ' ' || b.tok AS bigram
                     FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1)
         SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
         FROM bg GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",

    "q_mad_robust" ->
      """WITH med AS (SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
                      FROM orders GROUP BY o_orderstatus)
         SELECT o.o_orderstatus, ROUND(ANY_VALUE(med), 4) AS median_price,
                ROUND(quantile_cont(abs(o_totalprice - med), 0.5), 4) AS mad,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders o JOIN med USING (o_orderstatus)
         GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""",

    "q_null_safe_join" ->
      """WITH a AS (SELECT nullif(o_orderpriority, '1-URGENT') AS k,
                           CAST(COUNT(*) AS BIGINT) AS n_a FROM orders GROUP BY 1),
              b AS (SELECT nullif(o_orderpriority, '2-HIGH') AS k,
                           CAST(COUNT(*) AS BIGINT) AS n_b FROM orders GROUP BY 1)
         SELECT a.k AS k, a.n_a, b.n_b
         FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
         ORDER BY k NULLS FIRST""",

    "q_outlier_zscore" ->
      """WITH ev AS (SELECT event_id, event_type, value,
                            CAST(round(value * 100) AS BIGINT) AS vc FROM events),
              st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                            SUM(vc) AS s1, SUM(vc * vc) AS s2
                     FROM ev GROUP BY event_type),
              z AS (SELECT event_id, ev.event_type, value,
                           (value - CAST(s1 AS DOUBLE) / n / 100.0)
                             / sqrt((CAST(s2 AS DOUBLE)
                                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                                    / (n - 1) / 10000.0) AS z
                    FROM ev JOIN st ON ev.event_type = st.event_type)
         SELECT event_id, event_type, value, ROUND(z, 4) AS z
         FROM z WHERE abs(z) > 2.5 ORDER BY event_id""",

    "q_intradoc_dedup" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                              generate_subscripts(string_split(text, ' '), 1) AS i FROM documents),
              segs AS (SELECT doc_id, CAST((i-1)//3 AS BIGINT) AS seg_idx,
                              string_agg(tok, ' ' ORDER BY i) AS seg
                       FROM toks GROUP BY doc_id, (i-1)//3),
              mark AS (SELECT doc_id, seg_idx, seg,
                              row_number() OVER (PARTITION BY doc_id, seg ORDER BY seg_idx) AS rn
                       FROM segs)
         SELECT doc_id,
                string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx) AS text_deduped,
                CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         FROM mark GROUP BY doc_id ORDER BY doc_id""",

    "q_importance_weights" ->
      """WITH ct AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
              tt AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents WHERE lang = 'en'),
              cv AS (SELECT t, COUNT(*) AS cc FROM ct GROUP BY t),
              tv AS (SELECT t, COUNT(*) AS tc FROM tt GROUP BY t),
              j AS (SELECT cv.t, cv.cc AS cc, COALESCE(tv.tc, 0) AS tc
                    FROM cv LEFT JOIN tv ON cv.t = tv.t),
              tot AS (SELECT SUM(cc) AS nc, SUM(tc) AS nt, COUNT(*) AS nv FROM j),
              lr AS (SELECT t, ln((tc + 1.0) / (tot.nt + tot.nv))
                             - ln((cc + 1.0) / (tot.nc + tot.nv)) AS llr
                     FROM j, tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                ROUND(AVG(llr), 6) + 0.0 AS avg_llr
         FROM ct JOIN lr USING (t) GROUP BY doc_id ORDER BY doc_id""",

    "q_blocked_fuzzy_join" ->
      """WITH v AS (SELECT MIN(p_partkey) AS id, p_name AS s,
                           string_split(p_name, ' ')[1] AS block_key
                    FROM part GROUP BY p_name)
         SELECT a.id AS id1, b.id AS id2, a.s AS s1, b.s AS s2,
                CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
         FROM v a JOIN v b ON a.block_key = b.block_key AND a.id < b.id
         WHERE levenshtein(a.s, b.s) <= 3
         ORDER BY id1, id2""",

    "q_percentile_filter_approx" ->
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS keep_frac_ok
         FROM documents GROUP BY lang ORDER BY lang""",

    "q_percentile_filter" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
                           ROUND(percent_rank() OVER (PARTITION BY lang
                               ORDER BY n_chars DESC, doc_id ASC), 6) AS pct_rank
                    FROM documents)
         SELECT doc_id, lang, n_chars, pct_rank
         FROM r WHERE pct_rank <= 0.3 ORDER BY doc_id""",

    "q_simhash_near_dups" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
              h AS (SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
              bits AS (SELECT doc_id, b.i AS b,
                              CASE WHEN (h // CAST(power(2, b.i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS delta
                       FROM h, (SELECT unnest(generate_series(0, 59)) AS i) b),
              s AS (SELECT doc_id, b, SUM(delta) AS s FROM bits GROUP BY doc_id, b),
              sig AS (SELECT doc_id,
                             CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
                      FROM s GROUP BY doc_id)
         SELECT a.doc_id AS id1, b.doc_id AS id2,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY id1, id2""",

    "q_simhash" ->
      """WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
              h AS (SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
              bits AS (SELECT doc_id, b.i AS b,
                              CASE WHEN (h // CAST(power(2, b.i) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS delta
                       FROM h, (SELECT unnest(generate_series(0, 15)) AS i) b),
              s AS (SELECT doc_id, b, SUM(delta) AS s FROM bits GROUP BY doc_id, b)
         SELECT doc_id,
                CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         FROM s GROUP BY doc_id ORDER BY doc_id""",

    "q_dedup_clusters" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id))
         SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
                CAST(MAX(id) AS BIGINT) AS max_member
         FROM l3 GROUP BY label ORDER BY cluster_id""",

    // the incremental (build-subset + append-rest) store path must equal a
    // full rebuild over the unioned pair set, so it shares
    // q_dedup_clusters' full-graph oracle verbatim
    "q_dedup_clusters_incr" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id))
         SELECT label AS cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
                CAST(MAX(id) AS BIGINT) AS max_member
         FROM l3 GROUP BY label ORDER BY cluster_id""",

    // replays the wave's three admission gates: gopher rules (the
    // q_curation_pipeline fragment), in-batch MinHash-LSH pairs verified
    // by exact jaccard with the pair-min rule, then batch-kept × base
    // band collisions verified the same way (the q_minhash_lsh_pairs
    // construction); base = doc_id < 100 admitted as-is
    "q_ingest_wave" ->
      """WITH batch AS (SELECT doc_id, text FROM documents
                        WHERE doc_id >= 100 AND doc_id < 2600),
              f AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
                    FROM batch WHERE text IS NOT NULL),
              gids AS (SELECT doc_id FROM f
                       WHERE (n_tokens BETWEEN 20 AND 80)
                         AND (avg_token_len >= 3.0 AND avg_token_len <= 10.0)
                         AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
                         AND (n_stop_hits >= 2)),
              pop AS (SELECT doc_id, text FROM documents
                      WHERE text IS NOT NULL
                        AND (doc_id < 100 OR doc_id IN (SELECT doc_id FROM gids))),
              toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pop),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              bc AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
                     WHERE a.id >= 100 AND b.id >= 100),
              bcommon AS (SELECT c.id1, c.id2, CAST(COUNT(*) AS BIGINT) AS cm
                          FROM bc c JOIN sh a ON a.id = c.id1
                          JOIN sh b ON b.id = c.id2 AND b.sh = a.sh
                          GROUP BY c.id1, c.id2),
              blosers AS (SELECT DISTINCT c.id2 AS doc_id
                          FROM bcommon c JOIN sizes s1 ON s1.id = c.id1
                          JOIN sizes s2 ON s2.id = c.id2
                          WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4),
              kept AS (SELECT doc_id FROM gids
                       WHERE doc_id NOT IN (SELECT doc_id FROM blosers)),
              xc AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.band_key = b.band_key
                     WHERE a.id IN (SELECT doc_id FROM kept) AND b.id < 100),
              xcommon AS (SELECT c.new_id, c.corpus_id, CAST(COUNT(*) AS BIGINT) AS cm
                          FROM xc c JOIN sh a ON a.id = c.new_id
                          JOIN sh b ON b.id = c.corpus_id AND b.sh = a.sh
                          GROUP BY c.new_id, c.corpus_id),
              xlosers AS (SELECT DISTINCT c.new_id AS doc_id
                          FROM xcommon c JOIN sizes s1 ON s1.id = c.new_id
                          JOIN sizes s2 ON s2.id = c.corpus_id
                          WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4)
         SELECT doc_id,
                CASE WHEN doc_id NOT IN (SELECT doc_id FROM gids) THEN 'rejected_quality'
                     WHEN doc_id IN (SELECT doc_id FROM blosers) THEN 'rejected_batch_dup'
                     WHEN doc_id IN (SELECT doc_id FROM xlosers) THEN 'rejected_corpus_dup'
                     ELSE 'admitted' END AS disposition
         FROM batch ORDER BY doc_id""",

    // the same replay with the SemDeDup gate appended: survivors of the
    // text gates are bucket-joined (4-bit sign LSH, stride 8 — the
    // q_ann_bucket_hist construction) against the base embeddings and
    // rejected when the exact 6dp cosine reaches 0.4
    "q_ingest_wave_semantic" ->
      """WITH batch AS (SELECT doc_id, text FROM documents
                        WHERE doc_id >= 100 AND doc_id < 2000),
              f AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
                    FROM batch WHERE text IS NOT NULL),
              gids AS (SELECT doc_id FROM f
                       WHERE (n_tokens BETWEEN 20 AND 80)
                         AND (avg_token_len >= 3.0 AND avg_token_len <= 10.0)
                         AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
                         AND (n_stop_hits >= 2)),
              pop AS (SELECT doc_id, text FROM documents
                      WHERE text IS NOT NULL
                        AND (doc_id < 100 OR doc_id IN (SELECT doc_id FROM gids))),
              toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pop),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              bc AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
                     WHERE a.id >= 100 AND b.id >= 100),
              bcommon AS (SELECT c.id1, c.id2, CAST(COUNT(*) AS BIGINT) AS cm
                          FROM bc c JOIN sh a ON a.id = c.id1
                          JOIN sh b ON b.id = c.id2 AND b.sh = a.sh
                          GROUP BY c.id1, c.id2),
              blosers AS (SELECT DISTINCT c.id2 AS doc_id
                          FROM bcommon c JOIN sizes s1 ON s1.id = c.id1
                          JOIN sizes s2 ON s2.id = c.id2
                          WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4),
              kept AS (SELECT doc_id FROM gids
                       WHERE doc_id NOT IN (SELECT doc_id FROM blosers)),
              xc AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
                     FROM banded a JOIN banded b
                       ON a.band = b.band AND a.band_key = b.band_key
                     WHERE a.id IN (SELECT doc_id FROM kept) AND b.id < 100),
              xcommon AS (SELECT c.new_id, c.corpus_id, CAST(COUNT(*) AS BIGINT) AS cm
                          FROM xc c JOIN sh a ON a.id = c.new_id
                          JOIN sh b ON b.id = c.corpus_id AND b.sh = a.sh
                          GROUP BY c.new_id, c.corpus_id),
              xlosers AS (SELECT DISTINCT c.new_id AS doc_id
                          FROM xcommon c JOIN sizes s1 ON s1.id = c.new_id
                          JOIN sizes s2 ON s2.id = c.corpus_id
                          WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4),
              kept2 AS (SELECT doc_id FROM kept
                        WHERE doc_id NOT IN (SELECT doc_id FROM xlosers)),
              vb AS (SELECT vec_id AS id, embedding AS v,
                            (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                          + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                          + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                          + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS bucket
                     FROM embeddings),
              qv AS (SELECT * FROM vb
                     WHERE id >= 100 AND id IN (SELECT doc_id FROM kept2)),
              cv AS (SELECT * FROM vb WHERE id < 100),
              sidx AS (SELECT unnest(generate_series(1, 64)) AS i),
              scand AS (SELECT q.id AS new_id, c.id AS corpus_id,
                               q.v AS qvec, c.v AS cvec
                        FROM qv q JOIN cv c ON q.bucket = c.bucket),
              sdots AS (SELECT new_id, corpus_id,
                               SUM(CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)) AS dot,
                               SUM(CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)) AS nq,
                               SUM(CAST(cvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)) AS nc
                        FROM scand, sidx GROUP BY new_id, corpus_id),
              slosers AS (SELECT DISTINCT new_id AS doc_id FROM sdots
                          WHERE ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) >= 0.4)
         SELECT doc_id,
                CASE WHEN doc_id NOT IN (SELECT doc_id FROM gids) THEN 'rejected_quality'
                     WHEN doc_id IN (SELECT doc_id FROM blosers) THEN 'rejected_batch_dup'
                     WHEN doc_id IN (SELECT doc_id FROM xlosers) THEN 'rejected_corpus_dup'
                     WHEN doc_id IN (SELECT doc_id FROM slosers) THEN 'rejected_semantic_dup'
                     ELSE 'admitted' END AS disposition
         FROM batch ORDER BY doc_id""",

    // two-stage replay of the sequential waves; shingles/bands/sizes are
    // per-doc facts (cap = ∞ ⇒ population-independent), so ONE chain
    // serves both waves and only the id-set restrictions differ
    "q_ingest_wave_seq" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              f AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
                    FROM documents WHERE doc_id >= 100 AND text IS NOT NULL),
              gids AS (SELECT doc_id FROM f
                       WHERE (n_tokens BETWEEN 20 AND 80)
                         AND (avg_token_len >= 3.0 AND avg_token_len <= 10.0)
                         AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
                         AND (n_stop_hits >= 2)),
              g1 AS (SELECT doc_id FROM gids WHERE doc_id < 300),
              g2 AS (SELECT doc_id FROM gids
                     WHERE doc_id >= 300 AND doc_id < 1300),
              bc1 AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                      FROM banded a JOIN banded b
                        ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
                      WHERE a.id IN (SELECT doc_id FROM g1)
                        AND b.id IN (SELECT doc_id FROM g1)),
              bcom1 AS (SELECT c.id1, c.id2, CAST(COUNT(*) AS BIGINT) AS cm
                        FROM bc1 c JOIN sh a ON a.id = c.id1
                        JOIN sh b ON b.id = c.id2 AND b.sh = a.sh
                        GROUP BY c.id1, c.id2),
              blos1 AS (SELECT DISTINCT c.id2 AS doc_id
                        FROM bcom1 c JOIN sizes s1 ON s1.id = c.id1
                        JOIN sizes s2 ON s2.id = c.id2
                        WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4),
              kept1 AS (SELECT doc_id FROM g1
                        WHERE doc_id NOT IN (SELECT doc_id FROM blos1)),
              xc1 AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
                      FROM banded a JOIN banded b
                        ON a.band = b.band AND a.band_key = b.band_key
                      WHERE a.id IN (SELECT doc_id FROM kept1) AND b.id < 100),
              xcom1 AS (SELECT c.new_id, c.corpus_id, CAST(COUNT(*) AS BIGINT) AS cm
                        FROM xc1 c JOIN sh a ON a.id = c.new_id
                        JOIN sh b ON b.id = c.corpus_id AND b.sh = a.sh
                        GROUP BY c.new_id, c.corpus_id),
              xlos1 AS (SELECT DISTINCT c.new_id AS doc_id
                        FROM xcom1 c JOIN sizes s1 ON s1.id = c.new_id
                        JOIN sizes s2 ON s2.id = c.corpus_id
                        WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4),
              adm1 AS (SELECT doc_id FROM kept1
                       WHERE doc_id NOT IN (SELECT doc_id FROM xlos1)),
              bc2 AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                      FROM banded a JOIN banded b
                        ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
                      WHERE a.id IN (SELECT doc_id FROM g2)
                        AND b.id IN (SELECT doc_id FROM g2)),
              bcom2 AS (SELECT c.id1, c.id2, CAST(COUNT(*) AS BIGINT) AS cm
                        FROM bc2 c JOIN sh a ON a.id = c.id1
                        JOIN sh b ON b.id = c.id2 AND b.sh = a.sh
                        GROUP BY c.id1, c.id2),
              blos2 AS (SELECT DISTINCT c.id2 AS doc_id
                        FROM bcom2 c JOIN sizes s1 ON s1.id = c.id1
                        JOIN sizes s2 ON s2.id = c.id2
                        WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4),
              kept2 AS (SELECT doc_id FROM g2
                        WHERE doc_id NOT IN (SELECT doc_id FROM blos2)),
              xc2 AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
                      FROM banded a JOIN banded b
                        ON a.band = b.band AND a.band_key = b.band_key
                      WHERE a.id IN (SELECT doc_id FROM kept2)
                        AND (b.id < 100 OR b.id IN (SELECT doc_id FROM adm1))),
              xcom2 AS (SELECT c.new_id, c.corpus_id, CAST(COUNT(*) AS BIGINT) AS cm
                        FROM xc2 c JOIN sh a ON a.id = c.new_id
                        JOIN sh b ON b.id = c.corpus_id AND b.sh = a.sh
                        GROUP BY c.new_id, c.corpus_id),
              xlos2 AS (SELECT DISTINCT c.new_id AS doc_id
                        FROM xcom2 c JOIN sizes s1 ON s1.id = c.new_id
                        JOIN sizes s2 ON s2.id = c.corpus_id
                        WHERE ROUND(CAST(c.cm AS DOUBLE) / (s1.sz + s2.sz - c.cm), 4) >= 0.4)
         SELECT doc_id,
                CASE WHEN doc_id NOT IN (SELECT doc_id FROM g1) THEN 'rejected_quality'
                     WHEN doc_id IN (SELECT doc_id FROM blos1) THEN 'rejected_batch_dup'
                     WHEN doc_id IN (SELECT doc_id FROM xlos1) THEN 'rejected_corpus_dup'
                     ELSE 'admitted' END AS disposition,
                CAST(1 AS BIGINT) AS wave
         FROM documents WHERE doc_id >= 100 AND doc_id < 300
         UNION ALL
         SELECT doc_id,
                CASE WHEN doc_id NOT IN (SELECT doc_id FROM g2) THEN 'rejected_quality'
                     WHEN doc_id IN (SELECT doc_id FROM blos2) THEN 'rejected_batch_dup'
                     WHEN doc_id IN (SELECT doc_id FROM xlos2) THEN 'rejected_corpus_dup'
                     ELSE 'admitted' END AS disposition,
                CAST(2 AS BIGINT) AS wave
         FROM documents WHERE doc_id >= 300 AND doc_id < 1300
         ORDER BY doc_id""",

    "q_cluster_ban" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              seeds AS (SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0),
              sc AS (SELECT DISTINCT l3.label FROM l3 JOIN seeds USING (id)),
              viac AS (SELECT l3.id FROM l3 JOIN sc USING (label)),
              banned AS (SELECT id FROM viac UNION SELECT id FROM seeds)
         SELECT b.id AS doc_id,
                CASE WHEN s.id IS NOT NULL THEN 'seed' ELSE 'cluster' END AS banned_via
         FROM banned b LEFT JOIN seeds s ON s.id = b.id ORDER BY doc_id""",

    "q_repetition_score" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+1], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 1, 1)),
              gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
              agg AS (SELECT doc_id, MAX(c) AS topc, SUM(c) AS total FROM gc GROUP BY doc_id),
              tk AS (SELECT doc_id, len(t) AS n_toks,
                            len(list_distinct(t)) AS n_distinct FROM toks)
         SELECT a.doc_id, CAST(a.total AS BIGINT) AS total_grams,
                ROUND(CAST(a.topc AS DOUBLE) / a.total, 4) AS top_gram_share,
                ROUND(CAST(tk.n_distinct AS DOUBLE) / tk.n_toks, 4) AS distinct_token_ratio
         FROM agg a JOIN tk USING (doc_id) ORDER BY doc_id""",

    "q_quality_filter" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE text IS NOT NULL
           AND len(string_split(text, ' ')) BETWEEN 30 AND 70
           AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) >= 0.35
         ORDER BY doc_id""",

    "q_pii_redact" ->
      """SELECT doc_id,
                regexp_replace(regexp_replace(
                  'contact user' || CAST(doc_id AS VARCHAR) || '@mail.com or 555-'
                    || CAST(doc_id AS VARCHAR) || ' ' || substring(text, 1, 40),
                  '[a-z0-9._]+@[a-z0-9]+\.[a-z]+', '[EMAIL]', 'g'),
                  '555-[0-9]+', '[PHONE]', 'g') AS redacted
         FROM documents ORDER BY doc_id""",

    "q_text_normalize" ->
      """SELECT doc_id,
                trim(regexp_replace(lower(nfc_normalize(
                  '  ' || upper(substring(text, 1, 30)) || '   '
                       || substring(text, 31, 20) || ' ')),
                  '\s+', ' ', 'g')) AS normalized
         FROM documents ORDER BY doc_id""",

    "q_hash_sample" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 = 0
         ORDER BY doc_id""",

    "q_contamination_report" ->
      """WITH ev AS (SELECT doc_id, sh FROM (
                       SELECT DISTINCT doc_id,
                              CAST(('0x' || substring(md5(array_to_string(t[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
                       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                             WHERE doc_id < 20 AND text IS NOT NULL),
                            (SELECT unnest(generate_series(1, 4000)) AS j)
                       WHERE j <= greatest(len(t) - 2, 1))),
              cg AS (SELECT DISTINCT
                            CAST(('0x' || substring(md5(array_to_string(t[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
                     FROM (SELECT string_split(text, ' ') AS t FROM documents
                           WHERE doc_id >= 20 AND text IS NOT NULL),
                          (SELECT unnest(generate_series(1, 4000)) AS j)
                     WHERE j <= greatest(len(t) - 2, 1)),
              g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM ev GROUP BY doc_id),
              h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
                    FROM ev WHERE sh IN (SELECT sh FROM cg) GROUP BY doc_id)
         SELECT g.doc_id, g.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
                ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / g.n_grams, 6) AS hit_ratio
         FROM g LEFT JOIN h USING (doc_id) ORDER BY g.doc_id""",

    "q_decontaminate" ->
      """WITH ev AS (SELECT DISTINCT
                            CAST(('0x' || substring(md5(array_to_string(t[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
                     FROM (SELECT string_split(text, ' ') AS t FROM documents
                           WHERE doc_id < 20 AND text IS NOT NULL),
                          (SELECT unnest(generate_series(1, 4000)) AS j)
                     WHERE j <= greatest(len(t) - 2, 1)),
              cg AS (SELECT doc_id,
                            CAST(('0x' || substring(md5(array_to_string(t[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
                     FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                           WHERE doc_id >= 20 AND text IS NOT NULL),
                          (SELECT unnest(generate_series(1, 4000)) AS j)
                     WHERE j <= greatest(len(t) - 2, 1)),
              bad AS (SELECT DISTINCT doc_id FROM cg JOIN ev USING (sh))
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",

    "q_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
                           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
                    FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 ELSE 100 END
         GROUP BY lang ORDER BY lang""",

    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY lang),
              t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM c),
              p AS (SELECT lang, n_docs,
                           CAST(n_docs AS DOUBLE) / tot AS p_raw,
                           power(CAST(n_docs AS DOUBLE) / tot, 0.5) AS pa
                    FROM c CROSS JOIN t),
              zt AS (SELECT CAST(SUM(CAST(pa AS DECIMAL(28,14))) AS DOUBLE) AS z,
                            MAX(pa / p_raw) AS rmax
                     FROM p)
         SELECT lang, n_docs, ROUND(p_raw, 6) AS p_data,
                ROUND(pa / z, 6) AS p_sample,
                ROUND((pa / p_raw) / rmax, 6) AS keep_rate
         FROM p CROSS JOIN zt ORDER BY lang""",

    "q_mix_proportions" ->
      """WITH w(lang, wt) AS (VALUES ('en', 2), ('de', 1), ('fr', 1)),
              c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
                    FROM documents JOIN w USING (lang) GROUP BY lang),
              m AS (SELECT c.lang, c.n, w.wt FROM c JOIN w USING (lang)
                    ORDER BY CAST(c.n AS DOUBLE) / w.wt, c.lang LIMIT 1),
              r AS (SELECT c.lang,
                           LEAST(100 * w.wt * m.n // (m.wt * c.n), 100) AS rate
                    FROM c JOIN w USING (lang) CROSS JOIN m)
         SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM documents d JOIN r ON d.lang = r.lang
         WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < r.rate
         GROUP BY d.lang ORDER BY d.lang""",

    // the heap-aggregated cap is row-identical to the window form
    "q_source_cap" ->
      """WITH ranked AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                             doc_id) AS rn
           FROM documents WHERE doc_id IS NOT NULL)
         SELECT doc_id, source FROM ranked WHERE rn <= 7 ORDER BY doc_id""",

    "q_budget_select" ->
      """WITH t AS (SELECT doc_id, n_chars,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents WHERE text IS NOT NULL),
              c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
                           ORDER BY n_chars DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                    FROM t)
         SELECT doc_id, n_chars, n_tokens FROM c WHERE cum < 5000
         ORDER BY doc_id""",

    "q_dataset_split" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
                           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
                    FROM documents)
         SELECT lang,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars
         FROM b GROUP BY 1, 2 ORDER BY lang, split""",

    "q_sequence_pack" ->
      """WITH s AS (SELECT doc_id, n_chars,
                           CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
                    FROM documents)
         SELECT doc_id, shard,
                CAST(floor(COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000) AS BIGINT) AS pack_id,
                n_chars
         FROM s ORDER BY doc_id""",

    "q_shingle_explode" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE doc_id < 50),
              grams AS (SELECT doc_id, j, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT doc_id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh,
                            MIN(j) AS fj
                     FROM grams GROUP BY doc_id, g),
              shd AS (SELECT doc_id, sh, MIN(fj) AS fj FROM sh GROUP BY doc_id, sh),
              ranked AS (SELECT doc_id,
                                CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fj) - 1 AS BIGINT) AS pos,
                                sh
                         FROM shd)
         SELECT doc_id, pos, sh FROM ranked ORDER BY doc_id, pos""",

    "q_split_parity" ->
      """WITH sp AS (SELECT doc_id, lang,
                            CASE WHEN bucket < 80 THEN 'train'
                                 WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
                     FROM (SELECT doc_id, lang,
                                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
                           FROM documents)),
              st AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_split
                     FROM sp GROUP BY split),
              lt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
                     FROM sp GROUP BY lang),
              tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sp),
              cell AS (SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_cell
                       FROM sp GROUP BY split, lang)
         SELECT cell.split, cell.lang, cell.n_cell,
                ROUND(CAST(cell.n_cell * tt.n AS DOUBLE)
                      / CAST(st.n_split * lt.n_lang AS DOUBLE), 6) AS parity_ratio
         FROM cell JOIN st USING (split) JOIN lt USING (lang) CROSS JOIN tt
         ORDER BY cell.split, cell.lang""",

    "q_event_trigrams" ->
      """WITH ordered AS (SELECT user_id, event_type,
                                 row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS i
                          FROM events),
              tg AS (SELECT a.event_type || ' ' || b.event_type || ' ' || c.event_type AS trigram
                     FROM ordered a
                     JOIN ordered b ON b.user_id = a.user_id AND b.i = a.i + 1
                     JOIN ordered c ON c.user_id = a.user_id AND c.i = a.i + 2)
         SELECT trigram, CAST(COUNT(*) AS BIGINT) AS n
         FROM tg GROUP BY trigram ORDER BY n DESC, trigram ASC LIMIT 15""",

    "q_interarrival" ->
      """WITH g AS (SELECT event_type,
                           date_diff('second',
                             lag(ts) OVER (PARTITION BY event_type, user_id
                               ORDER BY ts, event_id), ts) AS gap
                    FROM events),
              f AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                quantile_cont(gap, 0.5) AS p50_gap,
                quantile_cont(gap, 0.95) AS p95_gap
         FROM f GROUP BY event_type ORDER BY event_type""",

    "q_dedup_audit" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
              ek AS (SELECT doc_id,
                            MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
                     FROM base),
              toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id),
              pairs AS (SELECT c.id1, c.id2
                        FROM cands c
                        JOIN common cm ON cm.id1 = c.id1 AND cm.id2 = c.id2
                        JOIN sizes s1 ON s1.id = c.id1
                        JOIN sizes s2 ON s2.id = c.id2
                        WHERE ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) >= 0.9),
              ne AS (SELECT id2 AS doc_id, CAST(MIN(id1) AS BIGINT) AS near_of
                     FROM pairs GROUP BY id2)
         SELECT ek.doc_id,
                CASE WHEN ek.keeper <> ek.doc_id THEN 'exact_dup'
                     WHEN ne.near_of IS NOT NULL THEN 'near_dup'
                     ELSE 'unique' END AS status,
                CASE WHEN ek.keeper <> ek.doc_id THEN ek.keeper
                     ELSE ne.near_of END AS evidence_id
         FROM ek LEFT JOIN ne USING (doc_id) ORDER BY ek.doc_id""",

    "q_attribution" ->
      """WITH p AS (SELECT user_id, ts, event_id,
                           CAST(ROUND(value * 100) AS BIGINT) AS vc
                    FROM events WHERE event_type = 'purchase'),
              tch AS (SELECT user_id, ts AS tts, event_id AS tid,
                             event_type AS touch_type
                      FROM events WHERE event_type IN ('click', 'view')),
              att AS (SELECT p.event_id, p.vc,
                             (SELECT t.touch_type FROM tch t
                              WHERE t.user_id = p.user_id AND t.tts <= p.ts
                              ORDER BY t.tts DESC, t.tid DESC LIMIT 1) AS touch_type
                      FROM p)
         SELECT COALESCE(touch_type, 'none') AS touch_type,
                CAST(COUNT(*) AS BIGINT) AS n_purchases,
                CAST(SUM(vc) AS DOUBLE) / 100.0 AS total_value
         FROM att GROUP BY 1 ORDER BY 1""",

    "q_semdedup_sweep" ->
      """WITH v AS (SELECT vec_id, embedding,
                           CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                              + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                              + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                              + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
                    FROM embeddings),
              pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                               a.embedding AS ae, b.embedding AS be
                        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT id1, id2,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS na,
                              SUM(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS nb
                       FROM pairs, idx GROUP BY id1, id2),
              sc AS (SELECT id1, id2, ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS score
                     FROM dots
                     WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.2),
              th AS (SELECT CAST(unnest([0.2, 0.4, 0.6, 0.8]) AS DOUBLE) AS threshold),
              swept AS (SELECT th.threshold, sc.id1, sc.id2
                        FROM sc CROSS JOIN th WHERE sc.score >= th.threshold),
              np AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
                     FROM swept GROUP BY threshold),
              nd AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_docs
                     FROM (SELECT DISTINCT threshold, id
                           FROM (SELECT threshold, id1 AS id FROM swept
                                 UNION ALL SELECT threshold, id2 FROM swept))
                     GROUP BY threshold)
         SELECT np.threshold, np.n_pairs, nd.n_docs
         FROM np JOIN nd USING (threshold) ORDER BY np.threshold""",

    "q_cluster_size_hist" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
                     FROM l3 GROUP BY label)
         SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         FROM sz GROUP BY cluster_size ORDER BY cluster_size""",

    "q_group_topk" ->
      """WITH rk AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS nc,
                            CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
                     FROM documents)
         SELECT lang, doc_id, nc AS n_chars, rank FROM rk
         WHERE rank <= 3 ORDER BY lang, rank""",

    "q_centroid_matrix" ->
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label,
                           [ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[5] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[6] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[7] AS DOUBLE)), 6),
                            ROUND(AVG(CAST(embedding[8] AS DOUBLE)), 6)] AS c
                    FROM embeddings GROUP BY 1),
              p AS (SELECT a.label AS label1, b.label AS label2,
                           a.c AS ca, b.c AS cb
                    FROM c a JOIN c b ON a.label < b.label),
              idx AS (SELECT unnest(generate_series(1, 8)) AS i),
              d AS (SELECT label1, label2,
                           SUM(ca[i] * cb[i]) AS dot,
                           SUM(ca[i] * ca[i]) AS na,
                           SUM(cb[i] * cb[i]) AS nb
                    FROM p, idx GROUP BY 1, 2)
         SELECT label1, label2,
                ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
         FROM d ORDER BY label1, label2""",

    "q_hill_tail" ->
      """WITH top AS (SELECT CAST(n_chars AS DOUBLE) AS x, doc_id
                      FROM documents WHERE n_chars > 0
                      ORDER BY x DESC, doc_id ASC LIMIT 101),
              rk AS (SELECT x, row_number() OVER (ORDER BY x DESC, doc_id ASC) AS r
                     FROM top),
              xr AS (SELECT x AS xref FROM rk WHERE r = 101),
              lx AS (SELECT CAST(ROUND(ln(rk.x / xr.xref), 6) AS DECIMAL(28,6)) AS lx
                     FROM rk CROSS JOIN xr WHERE rk.r <= 100)
         SELECT CAST(COUNT(*) AS BIGINT) AS k,
                ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lx) AS DOUBLE), 6) AS alpha
         FROM lx""",

    "q_top_eigenvector" ->
      """WITH x AS (SELECT vec_id, embedding FROM embeddings
                    WHERE embedding IS NOT NULL),
              jj AS (SELECT unnest(generate_series(1, 64)) AS j),
              w1 AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * 0.125), 6) AS w
                     FROM x, jj GROUP BY vec_id),
              s1 AS (SELECT j, SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE) * w, 9) AS DECIMAL(28,9))) AS s
                     FROM x JOIN w1 USING (vec_id), jj GROUP BY j),
              n1 AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
                     FROM s1),
              v1 AS (SELECT j, ROUND(CAST(s AS DOUBLE) / nrm, 6) AS vj
                     FROM s1, n1),
              w2 AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * vj), 6) AS w
                     FROM x, v1 WHERE v1.j BETWEEN 1 AND 64
                     GROUP BY vec_id),
              s2 AS (SELECT v1.j, SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE) * w2.w, 9) AS DECIMAL(28,9))) AS s
                     FROM x JOIN w2 USING (vec_id), v1 GROUP BY v1.j),
              n2 AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
                     FROM s2),
              v2 AS (SELECT j, ROUND(CAST(s AS DOUBLE) / nrm, 6) AS vj
                     FROM s2, n2)
         SELECT CAST(j AS BIGINT) AS dim, vj AS component
         FROM v2 ORDER BY dim""",

    "q_pc1_share" ->
      """WITH x AS (SELECT vec_id, embedding FROM embeddings
                    WHERE embedding IS NOT NULL),
              jj AS (SELECT unnest(generate_series(1, 64)) AS j),
              w1 AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * 0.125), 6) AS w
                     FROM x, jj GROUP BY vec_id),
              s1 AS (SELECT j, SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE) * w, 9) AS DECIMAL(28,9))) AS s
                     FROM x JOIN w1 USING (vec_id), jj GROUP BY j),
              n1 AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
                     FROM s1),
              v1 AS (SELECT j, ROUND(CAST(s AS DOUBLE) / nrm, 6) AS vj
                     FROM s1, n1),
              w2 AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * vj), 6) AS w
                     FROM x, v1 GROUP BY vec_id),
              s2 AS (SELECT v1.j, SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE) * w2.w, 9) AS DECIMAL(28,9))) AS s
                     FROM x JOIN w2 USING (vec_id), v1 GROUP BY v1.j),
              n2 AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
                     FROM s2),
              v2 AS (SELECT j, ROUND(CAST(s AS DOUBLE) / nrm, 6) AS vj
                     FROM s2, n2),
              p AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * vj), 6) AS proj
                    FROM x, v2 GROUP BY vec_id),
              t AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)), 6) AS norm2
                    FROM x, jj GROUP BY vec_id),
              agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                             SUM(CAST(ROUND(proj * proj, 9) AS DECIMAL(28,9))) AS ps,
                             SUM(CAST(norm2 AS DECIMAL(28,9))) AS ts
                      FROM p JOIN t USING (vec_id))
         SELECT n_vecs,
                ROUND(CAST(ps AS DOUBLE) / CAST(ts AS DOUBLE), 6) AS pc1_share
         FROM agg""",

    "q_pc_residual" ->
      """WITH x AS (SELECT vec_id, embedding FROM embeddings
                    WHERE embedding IS NOT NULL),
              jj AS (SELECT unnest(generate_series(1, 64)) AS j),
              w1 AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * 0.125), 6) AS w
                     FROM x, jj GROUP BY vec_id),
              s1 AS (SELECT j, SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE) * w, 9) AS DECIMAL(28,9))) AS s
                     FROM x JOIN w1 USING (vec_id), jj GROUP BY j),
              n1 AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
                     FROM s1),
              v1 AS (SELECT j, ROUND(CAST(s AS DOUBLE) / nrm, 6) AS vj
                     FROM s1, n1),
              w2 AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * vj), 6) AS w
                     FROM x, v1 GROUP BY vec_id),
              s2 AS (SELECT v1.j, SUM(CAST(ROUND(CAST(embedding[j] AS DOUBLE) * w2.w, 9) AS DECIMAL(28,9))) AS s
                     FROM x JOIN w2 USING (vec_id), v1 GROUP BY v1.j),
              n2 AS (SELECT SQRT(CAST(SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE), 9) AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
                     FROM s2),
              v2 AS (SELECT j, ROUND(CAST(s AS DOUBLE) / nrm, 6) AS vj
                     FROM s2, n2),
              p AS (SELECT vec_id, ROUND(SUM(CAST(embedding[j] AS DOUBLE) * vj), 6) AS proj
                    FROM x, v2 GROUP BY vec_id),
              r AS (SELECT x.vec_id,
                           ROUND(SQRT(SUM((CAST(embedding[j] AS DOUBLE) - p.proj * vj)
                                          * (CAST(embedding[j] AS DOUBLE) - p.proj * vj))), 6) AS res_norm
                    FROM x JOIN p USING (vec_id), v2 GROUP BY x.vec_id)
         SELECT p.vec_id, p.proj, r.res_norm
         FROM p JOIN r USING (vec_id) ORDER BY p.vec_id""",

    "q_margin_mining" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE label = 0),
              c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE label = 1),
              pairs AS (SELECT q.qid, c.cid, q.qe, c.ce
                        FROM q CROSS JOIN c WHERE c.cid <> q.qid),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT qid, cid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
                       FROM pairs, idx GROUP BY qid, cid),
              scored AS (SELECT qid, cid,
                                ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) AS score
                         FROM dots),
              rk AS (SELECT qid, cid, score,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, cid ASC) AS r
                     FROM scored),
              top AS (SELECT * FROM rk WHERE r <= 4),
              agg AS (SELECT qid,
                             CAST(MIN(CASE WHEN r = 1 THEN cid END) AS BIGINT) AS neighbor_id,
                             MIN(CASE WHEN r = 1 THEN score END) AS best,
                             CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS ssum,
                             CAST(COUNT(*) AS BIGINT) AS n_cands
                      FROM top GROUP BY qid)
         SELECT qid AS query_id, neighbor_id, best AS best_cos,
                ROUND(best * n_cands / ssum, 6) AS margin, n_cands
         FROM agg ORDER BY query_id""",

    // the Wilson formula replayed with the operator's exact expression
    // shape (same literal z, same operation order)
    "q_conversion_wilson" ->
      """WITH a AS (SELECT o_orderpriority,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, n, k,
                ROUND(CAST(k AS DOUBLE) / n, 6) AS rate,
                ROUND((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
                       - 1.96 * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                                     + 1.96 * 1.96 / (4 * n * n)))
                      / (1 + 1.96 * 1.96 / n), 6) AS lo,
                ROUND((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
                       + 1.96 * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                                     + 1.96 * 1.96 / (4 * n * n)))
                      / (1 + 1.96 * 1.96 / n), 6) AS hi
         FROM a ORDER BY o_orderpriority""",

    // every marginal cell participates (empty cells contribute
    // (0 - e)^2 / e), matching the operator's ra x rb cross
    "q_chi_square" ->
      """WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(COUNT(*) AS BIGINT) AS o
                      FROM orders
                      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                      GROUP BY 1, 2),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
              cells AS (SELECT ra.a, rb.b, ra.ra, rb.rb, COALESCE(obs.o, 0) AS o
                        FROM ra CROSS JOIN rb
                        LEFT JOIN obs ON obs.a = ra.a AND obs.b = rb.b),
              terms AS (SELECT n,
                               CAST(ROUND((o - CAST(ra AS DOUBLE) * rb / n)
                                          * (o - CAST(ra AS DOUBLE) * rb / n)
                                          / (CAST(ra AS DOUBLE) * rb / n), 8) AS DECIMAL(20,8)) AS t
                        FROM cells CROSS JOIN tot)
         SELECT n, CAST(COUNT(*) AS BIGINT) AS n_cells,
                CAST((SELECT COUNT(*) FROM ra) AS BIGINT) AS ka,
                CAST((SELECT COUNT(*) FROM rb) AS BIGINT) AS kb,
                CAST(((SELECT COUNT(*) FROM ra) - 1) * ((SELECT COUNT(*) FROM rb) - 1) AS BIGINT) AS dof,
                CAST(SUM(t) AS DOUBLE) AS chi2
         FROM terms GROUP BY n""",

    "q_ks_test" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              c AS (SELECT v, CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY v),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c),
              cum AS (SELECT v, na, nb,
                             SUM(ca) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
                             SUM(cb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb
                      FROM c CROSS JOIN tot),
              dd AS (SELECT v, na, nb,
                            ROUND(ABS(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb), 8) AS d
                     FROM cum WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b, d AS ks_stat, v AS at_v
         FROM dd ORDER BY d DESC, v ASC LIMIT 1""",

    // doubled fractional ranks (2·avgRank = 2·cntLess + ties + 1) keep
    // every moment exact-integer (HUGEINT here, DECIMAL(38,0) in Spark);
    // the one double division happens on the final row
    "q_spearman" ->
      """WITH base AS (SELECT l_quantity AS x, ROUND(l_extendedprice, 0) AS y FROM lineitem
                       WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
              cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY x),
              rx AS (SELECT x, COALESCE(SUM(c) OVER (ORDER BY x ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + c + 1 AS r2 FROM cx),
              cy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY y),
              ry AS (SELECT y, COALESCE(SUM(c) OVER (ORDER BY y ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + c + 1 AS r2 FROM cy),
              j AS (SELECT CAST(rx.r2 AS HUGEINT) AS rxv, CAST(ry.r2 AS HUGEINT) AS ryv
                    FROM base JOIN rx ON base.x = rx.x JOIN ry ON base.y = ry.y),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(rxv) AS sx, SUM(ryv) AS sy,
                           SUM(rxv * rxv) AS sxx, SUM(ryv * ryv) AS syy,
                           SUM(rxv * ryv) AS sxy
                    FROM j)
         SELECT n,
                CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                     THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                                SQRT(CAST(n * sxx - sx * sx AS DOUBLE) *
                                     CAST(n * syy - sy * sy AS DOUBLE)), 8)
                END AS rho
         FROM m""",

    "q_mann_whitney" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              c AS (SELECT v, CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY v),
              r AS (SELECT ca, cb, ca + cb AS t,
                           COALESCE(SUM(ca + cb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + (ca + cb) + 1 AS r2
                    FROM c),
              m AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                           SUM(CAST(ca AS HUGEINT) * CAST(r2 AS HUGEINT)) AS ra2,
                           SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS ties
                    FROM r),
              u AS (SELECT na, nb, ties,
                           CAST(ra2 - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2.0 AS ua,
                           CAST(CAST(na AS HUGEINT) * nb * 2 - (ra2 - CAST(na AS HUGEINT) * (na + 1)) AS DOUBLE) / 2.0 AS ub,
                           CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
                             (CAST(na + nb + 1 AS DOUBLE) -
                              CAST(ties AS DOUBLE) / (CAST(na + nb AS DOUBLE) * CAST(na + nb - 1 AS DOUBLE))) AS varu
                    FROM m WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b, ua AS u_a, ub AS u_b,
                CASE WHEN varu > 0
                     THEN ROUND((ua - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0) / SQRT(varu), 8)
                END AS z
         FROM u""",

    // paired family shared pair construction: per-user exact cent sums
    // of click vs view spend; the op layer's cents() scales both sides
    // by a further 100 (monotone — ranks/signs unchanged, mirrored here)
    "q_wilcoxon_signed_rank" ->
      """WITH ev AS (SELECT user_id,
                SUM(CASE WHEN event_type = 'click' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS cc,
                SUM(CASE WHEN event_type = 'view' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS vc
              FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
              GROUP BY user_id),
              pairs AS (SELECT (cc - vc) * 100 AS d FROM ev
                        WHERE cc IS NOT NULL AND vc IS NOT NULL AND cc <> vc),
              h AS (SELECT ABS(d) AS av, CAST(COUNT(*) AS BIGINT) AS t,
                           CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
                    FROM pairs GROUP BY 1),
              r AS (SELECT t, pos,
                           COALESCE(SUM(t) OVER (ORDER BY av ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS r2
                    FROM h),
              m AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                           SUM(CAST(pos AS HUGEINT) * CAST(r2 AS HUGEINT)) AS w2,
                           SUM(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT) - CAST(t AS HUGEINT)) AS ties
                    FROM r),
              s AS (SELECT n, CAST(w2 AS DOUBLE) / 2.0 AS wp,
                           CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0
                             - CAST(ties AS DOUBLE) / 48.0 AS varw
                    FROM m WHERE n > 0)
         SELECT n AS n_pairs, ROUND(wp, 1) AS w_plus,
                CASE WHEN varw > 0
                     THEN ROUND((wp - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0) / SQRT(varw), 6)
                END AS z
         FROM s""",

    "q_paired_ttest" ->
      """WITH ev AS (SELECT user_id,
                SUM(CASE WHEN event_type = 'click' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS cc,
                SUM(CASE WHEN event_type = 'view' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS vc
              FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
              GROUP BY user_id),
              pairs AS (SELECT (cc - vc) * 100 AS d FROM ev
                        WHERE cc IS NOT NULL AND vc IS NOT NULL),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(d AS HUGEINT)) AS s1,
                           SUM(CAST(d AS HUGEINT) * d) AS s2
                    FROM pairs),
              c AS (SELECT n,
                           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS meancents,
                           CAST(CAST(n AS HUGEINT) * s2 - s1 * s1 AS DOUBLE) AS varnum
                    FROM m WHERE n > 0)
         SELECT n AS n_pairs,
                ROUND(meancents / 100.0, 6) AS mean_diff,
                CASE WHEN n > 1 AND varnum > 0
                     THEN ROUND(meancents / SQRT(varnum / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE)), 6)
                END AS t_stat,
                n - 1 AS df
         FROM c""",

    "q_sign_test" ->
      """WITH ev AS (SELECT user_id,
                SUM(CASE WHEN event_type = 'click' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS cc,
                SUM(CASE WHEN event_type = 'view' THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS vc
              FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL
              GROUP BY user_id),
              pairs AS (SELECT (cc - vc) * 100 AS d FROM ev
                        WHERE cc IS NOT NULL AND vc IS NOT NULL AND cc <> vc),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS np
                    FROM pairs)
         SELECT n AS n_pairs, np AS n_pos,
                ROUND((CAST(np AS DOUBLE) * 2.0 - CAST(n AS DOUBLE)) / SQRT(CAST(n AS DOUBLE)), 6) AS z
         FROM m WHERE n > 0""",

    // IPF unrolled: 5 row/column sweeps, weights re-quantized to
    // 8dp decimal after every scaling (exact sums between rounds)
    "q_ipf_rake" ->
      """WITH cells AS (SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS n_cell
                      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
                      GROUP BY 1, 2),
              tot AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS n,
                             CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
                             CAST(COUNT(DISTINCT b) AS BIGINT) AS kb FROM cells),
              w0 AS (SELECT a, b, n_cell, n, ka, kb, CAST(n_cell AS DECIMAL(28,8)) AS w
                     FROM cells CROSS JOIN tot),
              w1r AS (SELECT a, SUM(w) AS rs FROM w0 GROUP BY a),
              w1a AS (SELECT w0.a, w0.b, n_cell, n, ka, kb,
                              CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / ka / CAST(rs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                       FROM w0 JOIN w1r USING (a)),
              w1c AS (SELECT b, SUM(w) AS cs FROM w1a GROUP BY b),
              w1 AS (SELECT w1a.a, w1a.b, n_cell, n, ka, kb,
                             CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / kb / CAST(cs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                      FROM w1a JOIN w1c USING (b)),
              w2r AS (SELECT a, SUM(w) AS rs FROM w1 GROUP BY a),
              w2a AS (SELECT w1.a, w1.b, n_cell, n, ka, kb,
                              CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / ka / CAST(rs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                       FROM w1 JOIN w2r USING (a)),
              w2c AS (SELECT b, SUM(w) AS cs FROM w2a GROUP BY b),
              w2 AS (SELECT w2a.a, w2a.b, n_cell, n, ka, kb,
                             CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / kb / CAST(cs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                      FROM w2a JOIN w2c USING (b)),
              w3r AS (SELECT a, SUM(w) AS rs FROM w2 GROUP BY a),
              w3a AS (SELECT w2.a, w2.b, n_cell, n, ka, kb,
                              CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / ka / CAST(rs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                       FROM w2 JOIN w3r USING (a)),
              w3c AS (SELECT b, SUM(w) AS cs FROM w3a GROUP BY b),
              w3 AS (SELECT w3a.a, w3a.b, n_cell, n, ka, kb,
                             CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / kb / CAST(cs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                      FROM w3a JOIN w3c USING (b)),
              w4r AS (SELECT a, SUM(w) AS rs FROM w3 GROUP BY a),
              w4a AS (SELECT w3.a, w3.b, n_cell, n, ka, kb,
                              CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / ka / CAST(rs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                       FROM w3 JOIN w4r USING (a)),
              w4c AS (SELECT b, SUM(w) AS cs FROM w4a GROUP BY b),
              w4 AS (SELECT w4a.a, w4a.b, n_cell, n, ka, kb,
                             CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / kb / CAST(cs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                      FROM w4a JOIN w4c USING (b)),
              w5r AS (SELECT a, SUM(w) AS rs FROM w4 GROUP BY a),
              w5a AS (SELECT w4.a, w4.b, n_cell, n, ka, kb,
                              CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / ka / CAST(rs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                       FROM w4 JOIN w5r USING (a)),
              w5c AS (SELECT b, SUM(w) AS cs FROM w5a GROUP BY b),
              w5 AS (SELECT w5a.a, w5a.b, n_cell, n, ka, kb,
                             CAST(ROUND(CAST(w AS DOUBLE) * (CAST(n AS DOUBLE) / kb / CAST(cs AS DOUBLE)), 8) AS DECIMAL(28,8)) AS w
                      FROM w5a JOIN w5c USING (b))
         SELECT a, b, n_cell,
                ROUND(CAST(w AS DOUBLE), 6) AS raked_weight,
                ROUND(CAST(w AS DOUBLE) / n_cell, 6) AS row_weight
         FROM w5 ORDER BY a, b""",

    // nine exact HUGEINT moments in one pass; three correlations and
    // the partial as one pinned double chain
    "q_partial_corr" ->
      """WITH b AS (SELECT CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
                           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y,
                           CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS z
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                      AND l_discount IS NOT NULL),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(z AS HUGEINT)) AS sz,
                           SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy, SUM(CAST(z AS HUGEINT) * z) AS szz,
                           SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * z) AS sxz, SUM(CAST(y AS HUGEINT) * z) AS syz
                    FROM b),
              c AS (SELECT n,
                           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                                THEN CAST(n * sxy - sx * sy AS DOUBLE) / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) END AS rxy,
                           CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0 AND CAST(n * szz - sz * sz AS DOUBLE) > 0
                                THEN CAST(n * sxz - sx * sz AS DOUBLE) / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) END AS rxz,
                           CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > 0 AND CAST(n * szz - sz * sz AS DOUBLE) > 0
                                THEN CAST(n * syz - sy * sz AS DOUBLE) / SQRT(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * szz - sz * sz AS DOUBLE)) END AS ryz
                    FROM m)
         SELECT n, ROUND(rxy, 6) AS r_xy, ROUND(rxz, 6) AS r_xz, ROUND(ryz, 6) AS r_yz,
                CASE WHEN rxy IS NOT NULL AND rxz IS NOT NULL AND ryz IS NOT NULL
                          AND (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                     THEN ROUND((rxy - rxz * ryz) / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
                END AS r_xy_given_z
         FROM c""",

    // G = 2 Σ o·ln(o·n/(ra·rb)) over OBSERVED cells (0·ln0 = 0), 8dp
    // terms through decimal; dof from the marginal level counts
    "q_g_test" ->
      """WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(COUNT(*) AS BIGINT) AS o
                      FROM orders
                      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                      GROUP BY 1, 2),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
              dof AS (SELECT ka, kb, (ka - 1) * (kb - 1) AS dof
                      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS ka FROM ra)
                      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS kb FROM rb)),
              terms AS (SELECT n,
                               CAST(ROUND(2.0 * o * LN(CAST(o AS DOUBLE) * n / (CAST(ra AS DOUBLE) * rb)), 8)
                                    AS DECIMAL(20,8)) AS t
                        FROM obs JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot)
         SELECT n, CAST(COUNT(*) AS BIGINT) AS n_cells, ka, kb, dof,
                GREATEST(0.0, ROUND(CAST(SUM(t) AS DOUBLE), 6)) AS g_stat
         FROM terms CROSS JOIN dof GROUP BY n, ka, kb, dof""",

    // HHI: per-member exact-cents totals, share^2 terms 8dp through
    // decimal, effective members = 1/HHI off the rounded index
    "q_hhi" ->
      """WITH per AS (SELECT o_orderpriority AS market, o_custkey AS m,
                             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS mv
                      FROM orders
                      WHERE o_orderpriority IS NOT NULL AND o_custkey IS NOT NULL
                        AND o_totalprice IS NOT NULL
                      GROUP BY 1, 2),
              tv AS (SELECT market, CAST(SUM(mv) AS HUGEINT) AS tv FROM per GROUP BY market),
              terms AS (SELECT per.market,
                               CAST(ROUND((CAST(mv AS DOUBLE) / CAST(tv AS DOUBLE))
                                          * (CAST(mv AS DOUBLE) / CAST(tv AS DOUBLE)), 8)
                                    AS DECIMAL(20,8)) AS t
                        FROM per JOIN tv ON per.market = tv.market WHERE tv > 0),
              agg AS (SELECT market, CAST(COUNT(*) AS BIGINT) AS n_members,
                             ROUND(CAST(SUM(t) AS DOUBLE), 6) AS hhi
                      FROM terms GROUP BY market)
         SELECT market, n_members, hhi,
                CASE WHEN hhi > 0 THEN ROUND(1.0 / hhi, 6) END AS effective_members
         FROM agg ORDER BY market""",

    // observed cells only: 0·ln 0 = 0, so empty grid cells add nothing
    // (unlike chi2's (0-e)^2/e); clamp at 0 so per-term rounding can't
    // leak a cross-engine -0.0
    "q_mutual_info" ->
      """WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(COUNT(*) AS BIGINT) AS o
                      FROM orders
                      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                      GROUP BY 1, 2),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
              terms AS (SELECT n,
                               CAST(ROUND(CAST(o AS DOUBLE) / n *
                                          LN(CAST(o AS DOUBLE) * n / (CAST(ra AS DOUBLE) * rb)), 8)
                                    AS DECIMAL(20,8)) AS t
                        FROM obs JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot)
         SELECT n, CAST(COUNT(*) AS BIGINT) AS n_cells,
                GREATEST(ROUND(CAST(SUM(t) AS DOUBLE), 6), 0.0) AS mi
         FROM terms GROUP BY n""",

    "q_cramers_v" ->
      """WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(COUNT(*) AS BIGINT) AS o
                      FROM orders
                      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                      GROUP BY 1, 2),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
              cells AS (SELECT ra.a, rb.b, ra.ra, rb.rb, COALESCE(obs.o, 0) AS o
                        FROM ra CROSS JOIN rb
                        LEFT JOIN obs ON obs.a = ra.a AND obs.b = rb.b),
              terms AS (SELECT n,
                               CAST(ROUND((o - CAST(ra AS DOUBLE) * rb / n)
                                          * (o - CAST(ra AS DOUBLE) * rb / n)
                                          / (CAST(ra AS DOUBLE) * rb / n), 8) AS DECIMAL(20,8)) AS t
                        FROM cells CROSS JOIN tot),
              chi AS (SELECT n, CAST(SUM(t) AS DOUBLE) AS chi2,
                             CAST((SELECT COUNT(*) FROM ra) AS BIGINT) AS ka,
                             CAST((SELECT COUNT(*) FROM rb) AS BIGINT) AS kb
                      FROM terms GROUP BY n)
         SELECT n, ROUND(SQRT(chi2 / (n * (LEAST(ka, kb) - 1))), 6) AS cramers_v
         FROM chi""",

    // exact integer moments in HUGEINT (DECIMAL(38,0) in Spark); slope
    // fitted in cents-per-second then scaled back to value units
    "q_ols_trend" ->
      """WITH base AS (SELECT event_type AS g,
                              CAST(floor(epoch(ts)) AS BIGINT) AS x,
                              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
                       FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
              m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                           SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                           SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                           SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                    FROM base GROUP BY g),
              d AS (SELECT g, n,
                           n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
                           n * sxy - sx * sy AS num, sx, sy
                    FROM m)
         SELECT g AS event_type, n,
                CASE WHEN dx > 0
                     THEN ROUND(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) / 100.0, 8)
                END AS slope,
                CASE WHEN dx > 0
                     THEN ROUND((CAST(sy AS DOUBLE) - CAST(num AS DOUBLE) / CAST(dx AS DOUBLE) * CAST(sx AS DOUBLE))
                                / CAST(n AS DOUBLE) / 100.0, 8)
                END AS intercept,
                CASE WHEN dx > 0 AND dy > 0
                     THEN ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
                                (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 8)
                END AS r2
         FROM d ORDER BY event_type""",

    // median/MAD via interpolated quantile_cont = Spark's percentile();
    // both rounded 6dp BEFORE deviations so the outlier threshold
    // compares identical doubles in both engines
    "q_mad_outliers" ->
      """WITH base AS (SELECT event_type AS g, value AS v FROM events
                       WHERE value IS NOT NULL),
              med AS (SELECT g, ROUND(quantile_cont(v, 0.5), 6) AS med
                      FROM base GROUP BY g),
              dev AS (SELECT base.g, base.v, med.med, ABS(base.v - med.med) AS d
                      FROM base JOIN med ON base.g = med.g),
              mad AS (SELECT g, ROUND(quantile_cont(d, 0.5), 6) AS mad
                      FROM dev GROUP BY g)
         SELECT dev.g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
                dev.med, mad.mad,
                CAST(SUM(CASE WHEN dev.d > 3.0 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM dev JOIN mad ON dev.g = mad.g
         GROUP BY dev.g, dev.med, mad.mad
         ORDER BY event_type""",

    // rank-sum AUC: doubled fractional ranks over the score histogram,
    // AUC = 2U+ / (2 n+ n-) with ties counting half
    "q_roc_auc" ->
      """WITH f AS (SELECT ROUND(value, 1) AS v, (event_type = 'purchase') AS y FROM events
                    WHERE value IS NOT NULL AND event_type IS NOT NULL),
              c AS (SELECT v, CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                           CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cn
                    FROM f GROUP BY v),
              r AS (SELECT cp, cn,
                           COALESCE(SUM(cp + cn) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + (cp + cn) + 1 AS r2
                    FROM c),
              m AS (SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn,
                           SUM(CAST(cp AS HUGEINT) * CAST(r2 AS HUGEINT)) AS rp2
                    FROM r)
         SELECT np AS n_pos, nn AS n_neg,
                ROUND(CAST(rp2 - CAST(np AS HUGEINT) * (np + 1) AS DOUBLE) /
                      (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE) * 2.0), 8) AS auc
         FROM m WHERE np > 0 AND nn > 0""",

    // the logistic score is rounded to 6dp BEFORE any aggregation, so
    // both engines square and sum identical doubles
    "q_brier" ->
      """WITH f AS (SELECT ROUND(1.0 / (1.0 + EXP(-((value - 50.0) / 25.0))), 6) AS p,
                           (event_type = 'purchase') AS y
                    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
              t AS (SELECT CAST(ROUND((p - (CASE WHEN y THEN 1.0 ELSE 0.0 END))
                                      * (p - (CASE WHEN y THEN 1.0 ELSE 0.0 END)), 8)
                                 AS DECIMAL(28,8)) AS t
                    FROM f)
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(CAST(SUM(t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 8) AS brier
         FROM t""",

    "q_calibration_bins" ->
      """WITH f AS (SELECT ROUND(1.0 / (1.0 + EXP(-((value - 50.0) / 25.0))), 6) AS p,
                           (event_type = 'purchase') AS y
                    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
              b AS (SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
                           CAST(ROUND(p, 8) AS DECIMAL(28,8)) AS pp,
                           CASE WHEN y THEN 1 ELSE 0 END AS yy
                    FROM f),
              g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, SUM(pp) AS sp,
                           CAST(SUM(yy) AS BIGINT) AS pos
                    FROM b GROUP BY bin),
              o AS (SELECT bin, n,
                           ROUND(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pred,
                           ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos
                    FROM g)
         SELECT bin, n, mean_pred, frac_pos,
                ROUND(mean_pred - frac_pos, 6) AS gap
         FROM o ORDER BY bin""",

    // kappa in the all-integer form (diag·n − Σ ra·rb)/(n² − Σ ra·rb);
    // the marginal-product join runs over labels BOTH raters use
    "q_cohen_kappa" ->
      """WITH f AS (SELECT (o_orderstatus = 'F') AS a,
                           (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS b
                    FROM orders
                    WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
              obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM f GROUP BY a, b),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              s AS (SELECT COALESCE(SUM(CAST(ra.ra AS HUGEINT) * CAST(rb.rb AS HUGEINT)), 0) AS s
                    FROM ra JOIN rb ON ra.a = rb.b),
              d AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS diag
                    FROM obs)
         SELECT n,
                ROUND(CAST(diag AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
                ROUND(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
                CASE WHEN CAST(n AS HUGEINT) * n - s > 0
                     THEN ROUND(CAST(CAST(diag AS HUGEINT) * n - s AS DOUBLE) /
                                CAST(CAST(n AS HUGEINT) * n - s AS DOUBLE), 8)
                     WHEN diag = n THEN 1.0 END AS kappa
         FROM d CROSS JOIN s WHERE n > 0""",

    "q_ldiversity" ->
      """SELECT c_nationkey, c_mktsegment,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS n_sensitive,
                COUNT(DISTINCT c_acctbal) >= 3 AS diverse
         FROM customer GROUP BY c_nationkey, c_mktsegment
         ORDER BY c_nationkey, c_mktsegment""",

    // ordered EMD kept in exact integer units of 1/(n_cell·N): running
    // sums of (c·N − g·n) in HUGEINT, |·| summed, one divide per cell
    "q_tcloseness" ->
      """WITH base AS (SELECT c_nationkey, c_mktsegment, ROUND(c_acctbal, -2) AS v
                       FROM customer WHERE c_acctbal IS NOT NULL),
              gv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS g FROM base GROUP BY v),
              tot AS (SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(COUNT(*) AS BIGINT) AS m FROM gv),
              cells AS (SELECT c_nationkey, c_mktsegment, v, CAST(COUNT(*) AS BIGINT) AS c
                        FROM base GROUP BY 1, 2, 3),
              ct AS (SELECT c_nationkey, c_mktsegment, CAST(SUM(c) AS BIGINT) AS n
                     FROM cells GROUP BY 1, 2),
              grid AS (SELECT ct.c_nationkey, ct.c_mktsegment, ct.n, gv.v, gv.g,
                              COALESCE(cells.c, 0) AS c
                       FROM ct CROSS JOIN gv
                       LEFT JOIN cells ON cells.c_nationkey = ct.c_nationkey
                                      AND cells.c_mktsegment = ct.c_mktsegment
                                      AND cells.v = gv.v),
              s AS (SELECT c_nationkey, c_mktsegment, n, m, gt,
                           SUM(CAST(c AS HUGEINT) * gt - CAST(g AS HUGEINT) * n)
                             OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY v ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st
                    FROM grid CROSS JOIN tot),
              e AS (SELECT c_nationkey, c_mktsegment, n, m, gt, SUM(ABS(st)) AS sa
                    FROM s GROUP BY 1, 2, 3, 4, 5),
              o AS (SELECT c_nationkey, c_mktsegment, n AS n_rows,
                           CASE WHEN m > 1
                                THEN ROUND(CAST(sa AS DOUBLE) / (CAST(m - 1 AS DOUBLE) * n * gt), 8)
                                ELSE 0.0 END AS emd
                    FROM e)
         SELECT c_nationkey, c_mktsegment, n_rows, emd, (emd <= 0.15) AS pass
         FROM o ORDER BY c_nationkey, c_mktsegment""",

    // per-key PRF noise: u = (fp60(key‖release)+½)/2⁶⁰ through the
    // Laplace inverse CDF with scale 1/ε = 2.0 — deterministic release
    "q_dp_counts" ->
      """WITH c AS (SELECT o_orderpriority AS g, CAST(COUNT(*) AS BIGINT) AS n
                    FROM orders GROUP BY 1),
              u AS (SELECT g, n,
                           (CAST(CAST(('0x' || substring(md5(g || ':r1'), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
                             / 1152921504606846976.0 AS u
                    FROM c)
         SELECT g AS o_orderpriority,
                ROUND(n + (-2.0 * SIGN(u - 0.5)) * LN(1.0 - 2.0 * ABS(u - 0.5)), 6) AS noisy_n,
                CAST(0.5 AS DOUBLE) AS epsilon
         FROM u ORDER BY o_orderpriority""",

    "q_fd_check" ->
      """WITH pre AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
                      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2)
         SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_rows,
                CAST(COUNT(event_type) AS BIGINT) AS n_dep,
                COUNT(event_type) <= 1 AS holds
         FROM pre GROUP BY user_id ORDER BY user_id""",

    // deviations kept in integer units of 1/n_days (s·n − T) so every
    // running sum is exact; peak day ties to the earliest
    "q_cusum" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              tot AS (SELECT CAST(SUM(s) AS HUGEINT) AS t, CAST(COUNT(*) AS BIGINT) AS n FROM daily),
              c AS (SELECT d, n,
                           SUM(CAST(s AS HUGEINT) * n - t)
                             OVER (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
                    FROM daily CROSS JOIN tot)
         SELECT d AS at_day, n AS n_days,
                ROUND(CAST(ABS(cusum) AS DOUBLE) /
                      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100.0, 6) AS cusum_peak,
                CASE WHEN cusum < 0 THEN 'up' ELSE 'down' END AS direction
         FROM c ORDER BY ABS(cusum) DESC, d ASC LIMIT 1""",

    // the (1.0 - 0.3) forms are deliberate: both engines then fold the
    // SAME double for the decay base (the literal 0.7 is a different
    // double than 1.0 - 0.3) — weight parity to the bit before rounding
    "q_ewma_baseline" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              idx AS (SELECT d, s, CAST(ROW_NUMBER() OVER (ORDER BY d ASC) AS BIGINT) AS i FROM daily),
              terms AS (SELECT a.d, a.i, a.s,
                               CAST(ROUND((CASE WHEN b.i = 1 THEN POWER(1.0 - 0.3, a.i - 1)
                                                ELSE 0.3 * POWER(1.0 - 0.3, a.i - b.i) END)
                                          * CAST(b.s AS DOUBLE) / 100.0, 6) AS DECIMAL(28,6)) AS t
                        FROM idx a JOIN idx b ON b.i <= a.i),
              ew AS (SELECT d, i, s, SUM(t) AS e FROM terms GROUP BY 1, 2, 3),
              fin AS (SELECT d, s, e, LAG(e, 1) OVER (ORDER BY i ASC) AS prev FROM ew)
         SELECT d AS day, ROUND(CAST(s AS DOUBLE) / 100.0, 6) AS actual,
                ROUND(CAST(e AS DOUBLE), 6) AS ewma,
                ROUND(CAST(s AS DOUBLE) / 100.0 - CAST(prev AS DOUBLE), 6) AS resid
         FROM fin ORDER BY day""",

    "q_theil_sen" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              mn AS (SELECT MIN(d) AS d0 FROM daily),
              idx AS (SELECT CAST(datediff('day', d0, d) AS BIGINT) AS i, s
                      FROM daily CROSS JOIN mn),
              pairs AS (SELECT CAST(b.s - a.s AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope
                        FROM idx a JOIN idx b ON b.i > a.i),
              agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                             quantile_cont(slope, 0.5) AS med
                      FROM pairs)
         SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
                n_pairs, ROUND(med / 100.0, 8) AS slope
         FROM agg WHERE n_pairs > 0""",

    "q_trimmed_mean" ->
      """WITH base AS (SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
                       WHERE o_totalprice IS NOT NULL),
              b AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                           ROUND(quantile_cont(v, 0.05), 6) AS lo,
                           ROUND(quantile_cont(v, 0.95), 6) AS hi
                    FROM base GROUP BY g),
              kept AS (SELECT base.g, b.n,
                              CAST(CAST(base.v AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                       FROM base JOIN b ON base.g = b.g
                       WHERE base.v >= b.lo AND base.v <= b.hi)
         SELECT g AS o_orderpriority, n, CAST(COUNT(*) AS BIGINT) AS n_used,
                ROUND(CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0, 6) AS tmean
         FROM kept GROUP BY g, n ORDER BY o_orderpriority""",

    "q_median_survival" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f, MAX(date_trunc('day', ts)) AS l
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              mx AS (SELECT MAX(l) AS maxd FROM u),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
                               (datediff('day', CAST(l AS DATE), CAST(maxd AS DATE)) >= 7) AS ev
                        FROM u CROSS JOIN mx),
              c AS (SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                           CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
                    FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS n FROM c),
              r AS (SELECT t, n_events,
                           n - COALESCE(SUM(n_events + n_censored)
                                 OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM c CROSS JOIN tot),
              f AS (SELECT t, ROUND(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 8) AS fac
                    FROM r),
              s AS (SELECT t, MIN(fac) OVER wc AS minf,
                           SUM(ROUND(LN(CASE WHEN fac > 0 THEN fac ELSE 1 END), 8)) OVER wc AS lnsum
                    FROM f
                    WINDOW wc AS (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              k AS (SELECT t, CASE WHEN minf = 0 THEN 0.0 ELSE ROUND(EXP(lnsum), 6) END AS survival FROM s)
         SELECT t AS median_survival, survival, (survival <= 0.5) AS crossed
         FROM k
         ORDER BY (survival <= 0.5) DESC,
                  (CASE WHEN survival <= 0.5 THEN t ELSE -t END) ASC
         LIMIT 1""",

    "q_quartile_shape" ->
      """WITH q AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                           ROUND(quantile_cont(value, 0.25), 6) AS q1,
                           ROUND(quantile_cont(value, 0.5), 6) AS q2,
                           ROUND(quantile_cont(value, 0.75), 6) AS q3
                    FROM events WHERE value IS NOT NULL GROUP BY event_type)
         SELECT event_type, n, q1, q2, q3,
                ROUND(q3 - q1, 6) AS iqr,
                CASE WHEN ROUND(q3 - q1, 6) > 0
                     THEN ROUND((q3 + q1 - 2.0 * q2) / (q3 - q1), 6) END AS bowley_skew
         FROM q ORDER BY event_type""",

    // crossings decided in integer cumulative-weight arithmetic; the
    // (group, value) histogram pre-aggregate mirrors the Spark plan
    "q_weighted_quartiles" ->
      """WITH h AS (SELECT l_returnflag, l_extendedprice AS v,
                           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
                      AND l_quantity > 0
                    GROUP BY 1, 2),
              c AS (SELECT l_returnflag, v, w,
                           CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
                           CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
                    FROM h)
         SELECT l_returnflag, MAX(tw) AS total_weight,
                MIN(CASE WHEN cw * 4 >= tw THEN v END) AS w_q1,
                MIN(CASE WHEN cw * 2 >= tw THEN v END) AS w_median,
                MIN(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS w_q3
         FROM c GROUP BY l_returnflag ORDER BY l_returnflag""",

    // 4 unrolled BFS rounds: each round is MIN over (previous frontier
    // + 1 via an edge, previous distances) — the min-label CC pattern
    // with hop counts
    "q_bfs_hops" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
              seeds AS (SELECT DISTINCT v AS node FROM bi WHERE v % 50 = 0),
              h0 AS (SELECT node, CAST(0 AS BIGINT) AS hop FROM seeds),
              h1 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT bi.v AS node, h0.hop + 1 AS hop FROM bi JOIN h0 ON h0.node = bi.u
                       UNION ALL SELECT node, hop FROM h0) GROUP BY node),
              h2 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT bi.v AS node, h1.hop + 1 AS hop FROM bi JOIN h1 ON h1.node = bi.u
                       UNION ALL SELECT node, hop FROM h1) GROUP BY node),
              h3 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT bi.v AS node, h2.hop + 1 AS hop FROM bi JOIN h2 ON h2.node = bi.u
                       UNION ALL SELECT node, hop FROM h2) GROUP BY node),
              h4 AS (SELECT node, MIN(hop) AS hop FROM (
                       SELECT bi.v AS node, h3.hop + 1 AS hop FROM bi JOIN h3 ON h3.node = bi.u
                       UNION ALL SELECT node, hop FROM h3) GROUP BY node)
         SELECT node, hop FROM h4 ORDER BY node""",

    // per-word JSD terms 8dp-rounded then DECIMAL-summed (order-
    // invariant), the exact arithmetic chain of the Spark plan
    "q_jsd_langs" ->
      """WITH tok AS (SELECT lang AS g, unnest(string_split(text, ' ')) AS w
                      FROM documents WHERE text IS NOT NULL AND lang IN ('en', 'de')),
              c AS (SELECT w,
                           CAST(SUM(CASE WHEN g = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM tok GROUP BY w),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                             CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_a,
                             CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_b,
                             CAST(COUNT(*) AS BIGINT) AS vocab FROM c),
              terms AS (SELECT na, nb, vocab_a, vocab_b, vocab,
                               CAST(ROUND(CASE WHEN ca > 0
                                 THEN (CAST(ca AS DOUBLE) / na) * LN((CAST(ca AS DOUBLE) / na) /
                                      ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0))
                                 ELSE 0.0 END, 8) AS DECIMAL(20,8)) AS ta,
                               CAST(ROUND(CASE WHEN cb > 0
                                 THEN (CAST(cb AS DOUBLE) / nb) * LN((CAST(cb AS DOUBLE) / nb) /
                                      ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0))
                                 ELSE 0.0 END, 8) AS DECIMAL(20,8)) AS tb
                        FROM c CROSS JOIN tot WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b, vocab_a, vocab_b, vocab,
                ROUND(CAST(SUM(ta) + SUM(tb) AS DOUBLE) / 2.0, 6) AS jsd_nats
         FROM terms GROUP BY na, nb, vocab_a, vocab_b, vocab""",

    // bit-exact Morton interleave replay: disjoint bit positions make
    // the shift/mask/add chain identical in any engine
    "q_zorder_cells" -> s"""
         WITH b AS (SELECT o_custkey,
                           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                           (CAST(o_custkey AS BIGINT) & 65535) AS x,
                           (CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) & 65535) AS y
                    FROM orders),
              z AS (SELECT o_custkey, day,
                           (${(0 until 16).map(i =>
                             s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
                             .mkString(" + ")}) AS z
                    FROM b)
         SELECT (z >> 16) AS cell, CAST(COUNT(*) AS BIGINT) AS n_orders,
                MIN(o_custkey) AS cust_lo, MAX(o_custkey) AS cust_hi,
                MIN(day) AS day_lo, MAX(day) AS day_hi
         FROM z GROUP BY 1 ORDER BY cell""",

    "q_compaction_plan" ->
      """SELECT date_trunc('month', o_orderdate) AS month,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST((COUNT(*) + 999) // 1000 AS BIGINT) AS n_files,
                ROUND(CAST(COUNT(*) AS DOUBLE) /
                      (((COUNT(*) + 999) // 1000) * 1000.0), 6) AS fill
         FROM orders GROUP BY 1 ORDER BY month""",

    // DuckDB's jaro_winkler_similarity implements the identical standard
    // definition (probe-verified: window, transposition halving, 0.7
    // boost threshold, prefix cap 4, empty-string → 0.0)
    "q_jaro_winkler" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
              blk AS (SELECT p_name, string_split(p_name, ' ')[1] AS b FROM names)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
                ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
         FROM blk a JOIN blk b ON a.b = b.b AND a.p_name < b.p_name
         WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
         ORDER BY jw DESC, name_a ASC, name_b ASC""",

    "q_qq_points" ->
      """WITH a AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qa
                    FROM events WHERE value IS NOT NULL AND event_type = 'view'),
              b AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qb
                    FROM events WHERE value IS NOT NULL AND event_type = 'purchase'),
              g AS (SELECT unnest(generate_series(1, 9)) AS i)
         SELECT CAST(i AS DOUBLE) / 10.0 AS p,
                ROUND(qa[i], 6) AS q_view, ROUND(qb[i], 6) AS q_purchase,
                ROUND(ROUND(qa[i], 6) - ROUND(qb[i], 6), 6) AS diff
         FROM g CROSS JOIN a CROSS JOIN b ORDER BY p""",

    // same md5 arm fingerprint as q_cuped; means from exact cents, the
    // contribution chain pinned to the Spark operand order
    "q_standardized_effect" ->
      """WITH o AS (SELECT o_orderpriority AS stratum,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                           CASE WHEN CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':arm'), 1, 15)) AS BIGINT) % 2 = 0
                                THEN 1 ELSE 0 END AS t
                    FROM orders WHERE o_totalprice IS NOT NULL),
              cells AS (SELECT stratum,
                               CAST(SUM(t) AS BIGINT) AS n_t,
                               CAST(SUM(1 - t) AS BIGINT) AS n_c,
                               CAST(SUM(CASE WHEN t = 1 THEN c ELSE 0 END) AS BIGINT) AS st,
                               CAST(SUM(CASE WHEN t = 0 THEN c ELSE 0 END) AS BIGINT) AS sc
                        FROM o GROUP BY stratum),
              tot AS (SELECT CAST(SUM(n_t + n_c) AS BIGINT) AS n FROM cells)
         SELECT stratum, n_t, n_c,
                ROUND(CAST(st AS DOUBLE) / n_t / 100.0, 6) AS mean_t,
                ROUND(CAST(sc AS DOUBLE) / n_c / 100.0, 6) AS mean_c,
                ROUND(CAST(n_t + n_c AS DOUBLE) / n, 6) AS weight,
                ROUND((CAST(n_t + n_c AS DOUBLE) / n) *
                      (CAST(st AS DOUBLE) / n_t / 100.0 -
                       CAST(sc AS DOUBLE) / n_c / 100.0), 6) AS contribution
         FROM cells CROSS JOIN tot
         WHERE n_t > 0 AND n_c > 0
         ORDER BY stratum""",

    // Newman's r over the symmetric directed edge list: exact-integer
    // moments, one double correlation at the end
    "q_degree_assortativity" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
              deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY u),
              pairs AS (SELECT d1.deg AS du, d2.deg AS dv
                        FROM bi JOIN deg d1 ON d1.node = bi.u JOIN deg d2 ON d2.node = bi.v),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                           SUM(CAST(du AS HUGEINT)) AS sx, SUM(CAST(dv AS HUGEINT)) AS sy,
                           SUM(CAST(du AS HUGEINT) * du) AS sxx,
                           SUM(CAST(dv AS HUGEINT) * dv) AS syy,
                           SUM(CAST(du AS HUGEINT) * dv) AS sxy
                    FROM pairs),
              nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
         SELECT n_nodes, CAST(m // 2 AS BIGINT) AS n_edges,
                CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
                     THEN ROUND(CAST(m * sxy - sx * sy AS DOUBLE) /
                                sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
                                     CAST(m * syy - sy * sy AS DOUBLE)), 6)
                END AS assortativity
         FROM m CROSS JOIN nn""",

    // identical edge synthesis + wedge enumeration: per-center term
    // 6dp-rounded then DECIMAL-summed on both engines, one final double
    // round; existing edges excluded by the same canonical (a, b) key
    "q_adamic_adar" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3
                     UNION ALL
                     SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 < 2
                     UNION ALL
                     SELECT doc_id, doc_id + 4 FROM documents WHERE doc_id % 10 < 1),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              bi AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
              deg AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM bi GROUP BY w),
              adj AS (SELECT bi.w, bi.n, deg.d FROM bi JOIN deg USING (w)
                      WHERE deg.d <= 50),
              wedge AS (SELECT x.n AS u, y.n AS v,
                               CAST(ROUND(1.0 / ln(x.d), 6) AS DECIMAL(18,6)) AS term
                        FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n),
              agg AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
                             ROUND(CAST(SUM(term) AS DOUBLE), 6) AS aa_score
                      FROM wedge GROUP BY u, v)
         SELECT agg.u, agg.v, agg.n_common, agg.aa_score
         FROM agg LEFT JOIN e ON e.a = agg.u AND e.b = agg.v
         WHERE e.a IS NULL
         ORDER BY agg.u, agg.v""",

    // exact triangle enumeration (x<y<z via the canonical a<b edge set,
    // each triangle once), per-node counts, the same 2T/(d(d-1)) form
    "q_clustering_coeff" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3
                     UNION ALL
                     SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 < 2
                     UNION ALL
                     SELECT doc_id, doc_id + 4 FROM documents WHERE doc_id % 10 < 1),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              bi AS (SELECT a AS n FROM e UNION ALL SELECT b FROM e),
              deg AS (SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS deg
                      FROM bi GROUP BY n),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM e e1 JOIN e e2 ON e2.a = e1.b
                           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
              tn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
                     FROM (SELECT x AS node FROM tri
                           UNION ALL SELECT y FROM tri
                           UNION ALL SELECT z FROM tri)
                     GROUP BY node)
         SELECT deg.node, deg.deg,
                CAST(COALESCE(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
                ROUND(CAST(COALESCE(tn.n_triangles, 0) AS DOUBLE) * 2.0 /
                      (deg.deg * (deg.deg - 1)), 6) AS clustering_coeff
         FROM deg LEFT JOIN tn USING (node)
         WHERE deg.deg >= 2
         ORDER BY deg.node""",

    // the two LLR factors and both Wald bounds are the same double
    // expressions in both engines; decision compares the ROUNDED llr
    // the identical products-identity algebra: per-lag integer sums, one
    // double combination per row (m = S/n shared by every term)
    "q_acf" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(COUNT(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(y) AS BIGINT) AS sm,
                           SUM(CAST(y AS HUGEINT) * y) AS syy
                    FROM s),
              p AS (SELECT ll.l AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                           CAST(SUM(a.y) AS BIGINT) AS sa,
                           CAST(SUM(bb.y) AS BIGINT) AS sb,
                           SUM(CAST(a.y AS HUGEINT) * bb.y) AS sab
                    FROM s a
                    CROSS JOIN (SELECT unnest(generate_series(1, 14)) AS l) ll
                    JOIN s bb ON bb.idx = a.idx + ll.l
                    GROUP BY ll.l)
         SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
                CASE WHEN (CAST(syy AS DOUBLE) - (CAST(sm AS DOUBLE) / n) * sm) > 0.0
                     THEN ROUND((CAST(sab AS DOUBLE)
                                 - (CAST(sm AS DOUBLE) / n) * (sa + sb)
                                 + n_pairs * (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))
                                / (CAST(syy AS DOUBLE) - (CAST(sm AS DOUBLE) / n) * sm), 6)
                END AS acf
         FROM p CROSS JOIN t ORDER BY lag""",

    // same products identity as q_acf, bivariate: per-lag integer sums,
    // one double combination per row against full-series sd normalization
    "q_xcf" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
                        FROM events
                        WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
                        GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, x, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(x) AS BIGINT) AS sx,
                           SUM(CAST(x AS HUGEINT) * x) AS sxx,
                           CAST(SUM(y) AS BIGINT) AS sy,
                           SUM(CAST(y AS HUGEINT) * y) AS syy
                    FROM s),
              p AS (SELECT ll.l AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                           CAST(SUM(a.x) AS BIGINT) AS sa,
                           CAST(SUM(bb.y) AS BIGINT) AS sb,
                           SUM(CAST(a.x AS HUGEINT) * bb.y) AS sab
                    FROM s a
                    CROSS JOIN (SELECT unnest(generate_series(-7, 7)) AS l) ll
                    JOIN s bb ON bb.idx = a.idx + ll.l
                    GROUP BY ll.l)
         SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
                CASE WHEN (CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * sx) > 0.0
                      AND (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) / n) * sy) > 0.0
                     THEN ROUND((CAST(sab AS DOUBLE)
                                 - (CAST(sy AS DOUBLE) / n) * sa
                                 - (CAST(sx AS DOUBLE) / n) * sb
                                 + n_pairs * (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                                / sqrt((CAST(sxx AS DOUBLE) - (CAST(sx AS DOUBLE) / n) * sx)
                                       * (CAST(syy AS DOUBLE) - (CAST(sy AS DOUBLE) / n) * sy)), 6)
                END AS xcf
         FROM p CROSS JOIN t ORDER BY lag""",

    "q_sprt_monitor" ->
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
                               CAST(COUNT(*) AS BIGINT) AS n0,
                               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS k0
                        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
              c AS (SELECT day,
                           CAST(SUM(n0) OVER w AS BIGINT) AS n,
                           CAST(SUM(k0) OVER w AS BIGINT) AS k
                    FROM daily
                    WINDOW w AS (ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              l AS (SELECT day, n, k,
                           ROUND(CAST(k AS DOUBLE) * LN(0.25 / 0.15) +
                                 CAST(n - k AS DOUBLE) *
                                   LN((1.0 - 0.25) / (1.0 - 0.15)), 6) AS llr
                    FROM c)
         SELECT day, n, k, llr,
                CASE WHEN llr >= LN((1.0 - 0.05) / 0.05) THEN 'accept_h1'
                     WHEN llr <= LN(0.05 / (1.0 - 0.05)) THEN 'accept_h0'
                     ELSE 'continue' END AS decision
         FROM l ORDER BY day""",

    "q_word_burstiness" ->
      """WITH pd AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c
                     FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                           FROM documents WHERE text IS NOT NULL)
                     GROUP BY doc_id, word),
              w AS (SELECT word, CAST(SUM(c) AS BIGINT) AS cf,
                           CAST(COUNT(*) AS BIGINT) AS df
                    FROM pd GROUP BY word)
         SELECT word, cf, df, ROUND(CAST(cf AS DOUBLE) / df, 6) AS burstiness
         FROM w WHERE df >= 5
         ORDER BY burstiness DESC, word ASC LIMIT 25""",

    // 3 unrolled greedy MMR rounds over the top-8 cosine pool: rel and
    // every pairwise sim 6dp-rounded before any decision, the λ-blend
    // written as 0.7·rel − (1.0 − 0.7)·ms to pin the same doubles
    // (DuckDB folds (1.0 − 0.7) in DECIMAL → exactly the double the
    // Spark side derives via BigDecimal(1) − BigDecimal(λ))
    "q_mmr_rerank" -> mmrRerankOracle,

    // the store-backed path is bit-identical at full probe — same oracle
    "q_mmr_store" -> mmrRerankOracle,


    // 3 unrolled Weiszfeld rounds; every sum decimal-routed, every
    // re-entry 6dp — both engines walk the identical trajectory
    "q_geometric_median" -> geoMedianOracle(8, 3),

    // open/close via row_number in the exact struct-min order (event_id
    // unique, so the value tiebreak is never reached)
    "q_ohlc_daily" ->
      """WITH p AS (SELECT date_trunc('day', ts) AS day,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type = 'purchase'
                      AND ts IS NOT NULL AND value IS NOT NULL),
              o AS (SELECT day, c AS oc FROM (
                      SELECT day, c, row_number() OVER (PARTITION BY day
                        ORDER BY tsec ASC, event_id ASC, c ASC) AS rn FROM p)
                    WHERE rn = 1),
              cl AS (SELECT day, c AS cc FROM (
                      SELECT day, c, row_number() OVER (PARTITION BY day
                        ORDER BY tsec DESC, event_id DESC, c DESC) AS rn FROM p)
                    WHERE rn = 1),
              a AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_trades,
                           MAX(c) AS hi, MIN(c) AS lo,
                           CAST(SUM(c) AS BIGINT) AS vol
                    FROM p GROUP BY day)
         SELECT a.day, a.n_trades,
                ROUND(CAST(o.oc AS DOUBLE) / 100.0, 6) AS open,
                ROUND(CAST(a.hi AS DOUBLE) / 100.0, 6) AS high,
                ROUND(CAST(a.lo AS DOUBLE) / 100.0, 6) AS low,
                ROUND(CAST(cl.cc AS DOUBLE) / 100.0, 6) AS close,
                ROUND(CAST(a.vol AS DOUBLE) / 100.0, 6) AS volume
         FROM a JOIN o USING (day) JOIN cl USING (day)
         ORDER BY day LIMIT 200""",

    "q_median_ci" ->
      """WITH h AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
              cum AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
                      FROM h),
              t AS (SELECT CAST(MAX(cw) AS BIGINT) AS n FROM cum),
              rk AS (SELECT n,
                            CAST(FLOOR((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT) AS r_lo,
                            CAST(CEIL(1.0 + (CAST(n AS DOUBLE) + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT) AS r_hi,
                            (n + 1) // 2 AS r_med
                     FROM t)
         SELECT rk.n AS n,
                ROUND(CAST(MIN(CASE WHEN cw >= r_med THEN v END) AS DOUBLE) / 100.0, 6) AS median,
                ROUND(CAST(MIN(CASE WHEN cw >= r_lo THEN v END) AS DOUBLE) / 100.0, 6) AS ci_lo,
                ROUND(CAST(MIN(CASE WHEN cw >= r_hi THEN v END) AS DOUBLE) / 100.0, 6) AS ci_hi
         FROM cum CROSS JOIN rk GROUP BY rk.n""",

    // σ from exact decimal moments; weights and shares in one pinned
    // double chain; allocation rounded half-up like the Spark plan
    "q_neyman_allocation" ->
      """WITH o AS (SELECT o_orderpriority AS stratum,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM orders WHERE o_totalprice IS NOT NULL),
              cells AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_pop,
                               SUM(CAST(c AS HUGEINT)) AS s,
                               SUM(CAST(c AS HUGEINT) * c) AS ss
                        FROM o GROUP BY stratum),
              v AS (SELECT stratum, n_pop,
                           sqrt(CAST(n_pop * ss - s * s AS DOUBLE)
                                / (CAST(n_pop AS DOUBLE) * (n_pop - 1))) AS sigma0
                    FROM cells WHERE n_pop > 1),
              w AS (SELECT stratum, n_pop, ROUND(sigma0 / 100.0, 6) AS sigma,
                           CAST(ROUND(n_pop * sigma0, 6) AS DECIMAL(28,6)) AS wgt
                    FROM v),
              t AS (SELECT SUM(wgt) AS wt FROM w)
         SELECT stratum, n_pop, sigma,
                ROUND(CAST(wgt AS DOUBLE) / CAST(wt AS DOUBLE), 6) AS alloc_share,
                CAST(ROUND(1000.0 * CAST(wgt AS DOUBLE) / CAST(wt AS DOUBLE), 0) AS BIGINT) AS alloc_n
         FROM w CROSS JOIN t ORDER BY stratum""",

    "q_hazard_curve" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f, MAX(date_trunc('day', ts)) AS l
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              mx AS (SELECT MAX(l) AS maxd FROM u),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
                               (datediff('day', CAST(l AS DATE), CAST(maxd AS DATE)) >= 7) AS ev
                        FROM u CROSS JOIN mx),
              c AS (SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                           CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
                    FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS n FROM c),
              r AS (SELECT t, n_events,
                           n - COALESCE(SUM(n_events + n_censored)
                             OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM c CROSS JOIN tot)
         SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                ROUND(CAST(n_events AS DOUBLE) / n_risk, 6) AS hazard
         FROM r ORDER BY t""",

    "q_pr_curve" ->
      """WITH src AS (SELECT ROUND(1.0 / (1.0 + exp(-((value - 50.0) / 25.0))), 6) AS p,
                             (event_type = 'purchase') AS y
                      FROM events),
              g AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM src WHERE p IS NOT NULL GROUP BY 1),
              t AS (SELECT CAST(SUM(k) AS BIGINT) AS kt FROM g),
              c AS (SELECT bin,
                           CAST(SUM(n) OVER w AS BIGINT) AS cn,
                           CAST(SUM(k) OVER w AS BIGINT) AS ck, kt
                    FROM g CROSS JOIN t
                    WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT bin,
                ROUND(CAST(ck AS DOUBLE) / cn, 6) AS precision,
                ROUND(CAST(ck AS DOUBLE) / kt, 6) AS recall,
                CASE WHEN ck > 0
                     THEN ROUND(2.0 * (CAST(ck AS DOUBLE) / cn) * (CAST(ck AS DOUBLE) / kt)
                                / (CAST(ck AS DOUBLE) / cn + CAST(ck AS DOUBLE) / kt), 6)
                END AS f1
         FROM c WHERE kt > 0 ORDER BY bin DESC""",

    "q_gains_curve" ->
      """WITH src AS (SELECT ROUND(1.0 / (1.0 + exp(-((value - 50.0) / 25.0))), 6) AS p,
                             (event_type = 'purchase') AS y
                      FROM events),
              g AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM src WHERE p IS NOT NULL GROUP BY 1),
              t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(k) AS BIGINT) AS kt FROM g),
              c AS (SELECT bin, n, k,
                           CAST(SUM(n) OVER w AS BIGINT) AS cn,
                           CAST(SUM(k) OVER w AS BIGINT) AS ck,
                           nt, kt
                    FROM g CROSS JOIN t
                    WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT bin, n, k,
                ROUND(CAST(cn AS DOUBLE) / nt, 6) AS cum_pop_share,
                ROUND(CAST(ck AS DOUBLE) / kt, 6) AS cum_capture_share,
                ROUND((CAST(ck AS DOUBLE) / kt) / (CAST(cn AS DOUBLE) / nt), 6) AS lift
         FROM c WHERE kt > 0 ORDER BY bin DESC""",

    "q_numeric_profile" ->
      """WITH s AS (SELECT 'l_quantity' AS column_name, l_quantity AS v FROM lineitem
                    UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
                    UNION ALL SELECT 'l_discount', l_discount FROM lineitem
                    UNION ALL SELECT 'l_tax', l_tax FROM lineitem),
              a AS (SELECT column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
                           CAST(COUNT(v) AS BIGINT) AS n_present,
                           SUM(CAST(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)) AS sx,
                           SUM(CAST(CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS HUGEINT)
                               * CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT)) AS ss,
                           MIN(v) AS min_v, MAX(v) AS max_v
                    FROM s GROUP BY column_name)
         SELECT column_name, n_rows, n_present,
                ROUND(CAST(sx AS DOUBLE) / n_present / 100.0, 6) AS mean,
                ROUND(sqrt(CAST(n_present * ss - sx * sx AS DOUBLE)
                           / (CAST(n_present AS DOUBLE) * (n_present - 1))) / 100.0, 6) AS std,
                min_v, max_v
         FROM a WHERE n_present > 1 ORDER BY column_name""",

    // the isotonic CTE chain + both ECEs over the same bins
    "q_recalibration_gain" ->
      """WITH src AS (SELECT ROUND(1.0 / (1.0 + exp(-((value - 50.0) / 25.0))), 6) AS p,
                             (event_type = 'purchase') AS y
                      FROM events),
              g AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM src WHERE p IS NOT NULL AND y IS NOT NULL GROUP BY 1),
              cum AS (SELECT bin, n, k,
                             CAST(SUM(n) OVER wc AS BIGINT) AS cn,
                             CAST(SUM(k) OVER wc AS BIGINT) AS ck,
                             row_number() OVER (ORDER BY bin) AS pos
                      FROM g
                      WINDOW wc AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              grid AS (SELECT hi.pos AS kpos, lo.pos AS jpos,
                              CAST(hi.ck - (lo.ck - lo.k) AS DOUBLE) /
                                (hi.cn - (lo.cn - lo.n)) AS mean
                       FROM cum hi JOIN cum lo ON lo.pos <= hi.pos),
              m AS (SELECT kpos, jpos AS ipos,
                           MAX(mean) OVER (PARTITION BY kpos ORDER BY jpos ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
                    FROM grid),
              iso AS (SELECT ipos, MIN(mx) AS iso FROM m GROUP BY ipos),
              fit AS (SELECT c.bin, c.n, c.k, ROUND(iso.iso, 6) AS calibrated
                      FROM cum c JOIN iso ON iso.ipos = c.pos),
              e AS (SELECT n, k,
                           CAST(ROUND(n * ROUND(ABS(CAST(k AS DOUBLE) / n
                             - (CAST(bin AS DOUBLE) + 0.5) / 10.0), 8), 8) AS DECIMAL(20,8)) AS wraw,
                           CAST(ROUND(n * ROUND(ABS(CAST(k AS DOUBLE) / n
                             - calibrated), 8), 8) AS DECIMAL(20,8)) AS wcal
                    FROM fit)
         SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
                ROUND(CAST(SUM(wraw) AS DOUBLE) / SUM(n), 6) AS ece_raw,
                ROUND(CAST(SUM(wcal) AS DOUBLE) / SUM(n), 6) AS ece_calibrated
         FROM e""",

    // iso(i) = min_{k≥i} max_{j≤i} mean(j..k) over integer prefix sums
    "q_isotonic_calibration" ->
      """WITH src AS (SELECT ROUND(1.0 / (1.0 + exp(-((value - 50.0) / 25.0))), 6) AS p,
                             (event_type = 'purchase') AS y
                      FROM events),
              g AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS k
                    FROM src WHERE p IS NOT NULL AND y IS NOT NULL GROUP BY 1),
              cum AS (SELECT bin, n, k,
                             CAST(SUM(n) OVER wc AS BIGINT) AS cn,
                             CAST(SUM(k) OVER wc AS BIGINT) AS ck,
                             row_number() OVER (ORDER BY bin) AS pos
                      FROM g
                      WINDOW wc AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              grid AS (SELECT hi.pos AS kpos, lo.pos AS jpos,
                              CAST(hi.ck - (lo.ck - lo.k) AS DOUBLE) /
                                (hi.cn - (lo.cn - lo.n)) AS mean
                       FROM cum hi JOIN cum lo ON lo.pos <= hi.pos),
              m AS (SELECT kpos, jpos AS ipos,
                           MAX(mean) OVER (PARTITION BY kpos ORDER BY jpos ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx
                    FROM grid),
              iso AS (SELECT ipos, MIN(mx) AS iso FROM m GROUP BY ipos)
         SELECT c.bin, c.n, c.k,
                ROUND(CAST(c.k AS DOUBLE) / c.n, 6) AS rate,
                ROUND(iso.iso, 6) AS calibrated
         FROM cum c JOIN iso ON iso.ipos = c.pos ORDER BY c.bin""",

    "q_drawdown" ->
      """WITH p AS (SELECT date_trunc('day', ts) AS day,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type = 'purchase'
                      AND ts IS NOT NULL AND value IS NOT NULL),
              cl AS (SELECT day, c FROM (
                       SELECT day, c, row_number() OVER (PARTITION BY day
                         ORDER BY tsec DESC, event_id DESC, c DESC) AS rn FROM p)
                     WHERE rn = 1),
              dd AS (SELECT day, c,
                            MAX(c) OVER (ORDER BY day ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
                     FROM cl)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                ROUND(MIN(CAST(c AS DOUBLE) / peak - 1.0), 6) AS max_drawdown,
                CAST(MAX(peak) AS BIGINT) AS peak_cents
         FROM dd""",

    "q_volatility" ->
      """WITH p AS (SELECT date_trunc('day', ts) AS day,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type = 'purchase'
                      AND ts IS NOT NULL AND value IS NOT NULL),
              cl AS (SELECT day, c FROM (
                       SELECT day, c, row_number() OVER (PARTITION BY day
                         ORDER BY tsec DESC, event_id DESC, c DESC) AS rn FROM p)
                     WHERE rn = 1),
              r AS (SELECT CAST(ROUND(LN(CAST(c AS DOUBLE) / p0), 8) AS DECIMAL(20,8)) AS r
                    FROM (SELECT day, c, lag(c, 1) OVER (ORDER BY day ASC) AS p0 FROM cl)
                    WHERE p0 IS NOT NULL AND p0 > 0 AND c > 0),
              r2 AS (SELECT r, CAST(ROUND(CAST(r AS DOUBLE) * CAST(r AS DOUBLE), 10) AS DECIMAL(24,10)) AS rr FROM r),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_returns,
                           SUM(r) AS s, SUM(rr) AS ss FROM r2)
         SELECT n_returns,
                ROUND(sqrt((CAST(n_returns AS DOUBLE) * CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / (CAST(n_returns AS DOUBLE) * (n_returns - 1))), 6) AS daily_vol,
                ROUND(sqrt((CAST(n_returns AS DOUBLE) * CAST(ss AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                           / (CAST(n_returns AS DOUBLE) * (n_returns - 1))) * sqrt(252.0), 6) AS annualized_vol
         FROM m WHERE n_returns > 1""",

    "q_entropy_rate" ->
      """WITH s AS (SELECT user_id, event_type AS cur,
                           lead(event_type, 1) OVER (PARTITION BY user_id
                             ORDER BY CAST(floor(epoch(ts)) AS BIGINT) ASC, event_id ASC) AS nxt
                    FROM events WHERE ts IS NOT NULL),
              cells AS (SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
                        FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt),
              r AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS nr FROM cells GROUP BY cur),
              t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells),
              terms AS (SELECT nt,
                               CAST(ROUND((CAST(n AS DOUBLE) / nt) *
                                          -LN(CAST(n AS DOUBLE) / nr), 8) AS DECIMAL(20,8)) AS tm
                        FROM cells JOIN r USING (cur) CROSS JOIN t)
         SELECT nt AS n_steps, CAST(COUNT(*) AS BIGINT) AS n_cells,
                ROUND(CAST(SUM(tm) AS DOUBLE), 6) AS entropy_rate
         FROM terms GROUP BY nt""",

    // the non-associative fold replayed by a recursive CTE stepping
    // each key's rows in (tsec, event_id) order
    "q_clamped_balance" ->
      """WITH RECURSIVE
              e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id,
                           CASE WHEN event_type = 'purchase'
                                THEN COALESCE(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT), 0)
                                ELSE -500 END AS delta
                    FROM events WHERE ts IS NOT NULL AND event_type IN ('purchase', 'error')),
              s AS (SELECT user_id, delta,
                           row_number() OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) AS rn
                    FROM e),
              mx AS (SELECT user_id, CAST(MAX(rn) AS BIGINT) AS n FROM s GROUP BY user_id),
              r AS (SELECT mx.user_id AS user_id, CAST(0 AS BIGINT) AS rn,
                           CAST(0 AS BIGINT) AS bal,
                           CAST(0 AS BIGINT) AS nhi, CAST(0 AS BIGINT) AS nlo
                    FROM mx
                    UNION ALL
                    SELECT r.user_id, r.rn + 1,
                           CASE WHEN r.bal + s.delta > 20000 THEN 20000
                                WHEN r.bal + s.delta < 0 THEN 0
                                ELSE r.bal + s.delta END,
                           r.nhi + CASE WHEN r.bal + s.delta > 20000 THEN 1 ELSE 0 END,
                           r.nlo + CASE WHEN r.bal + s.delta < 0 THEN 1 ELSE 0 END
                    FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
         SELECT r.user_id AS user_id, mx.n AS n_events, r.bal AS final_balance,
                r.nhi AS n_clamped_hi, r.nlo AS n_clamped_lo
         FROM r JOIN mx ON mx.user_id = r.user_id AND r.rn = mx.n
         ORDER BY r.user_id""",

    // the q_gopher_filter rule chain, rolled up per language with the
    // four-fifths impact ratio on 6dp-rounded rates
    "q_parity_audit" ->
      """WITH f AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
               FROM documents WHERE text IS NOT NULL),
              k AS (SELECT doc_id,
                           ((n_tokens BETWEEN 20 AND 80)
                            AND (avg_token_len >= 3.0 AND avg_token_len <= 10.0)
                            AND (symbol_ratio <= 0.1)
                            AND (alpha_ratio >= 0.8)
                            AND (n_stop_hits >= 2)) AS keep
                    FROM f),
              rates AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n,
                               CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                               ROUND(CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS DOUBLE)
                                     / COUNT(*), 6) AS keep_rate
                        FROM documents d JOIN k USING (doc_id)
                        WHERE d.text IS NOT NULL GROUP BY d.lang),
              best AS (SELECT MAX(keep_rate) AS best FROM rates)
         SELECT lang, n, n_kept, keep_rate,
                ROUND(keep_rate / best, 6) AS impact_ratio,
                (ROUND(keep_rate / best, 6) < 0.8) AS flag_disparate
         FROM rates CROSS JOIN best ORDER BY lang""",

    // the per-item identity Σ_d X_d/d = Σ_items (H_D − H_{m−1}) with the
    // SAME 12dp harmonic literals the Spark plan carries
    "q_rank_overlap" -> (s"""
         WITH wa AS (SELECT word, row_number() OVER (ORDER BY n DESC, word ASC) AS rank FROM (
                       SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
                         SELECT unnest(string_split(text, ' ')) AS word FROM documents
                         WHERE source = 'src0' AND text IS NOT NULL)
                       GROUP BY word ORDER BY n DESC, word ASC LIMIT 30)),
              wb AS (SELECT word, row_number() OVER (ORDER BY n DESC, word ASC) AS rank FROM (
                       SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
                         SELECT unnest(string_split(text, ' ')) AS word FROM documents
                         WHERE source = 'src1' AND text IS NOT NULL)
                       GROUP BY word ORDER BY n DESC, word ASC LIMIT 30)),
              j AS (SELECT greatest(wa.rank, wb.rank) AS m FROM wa JOIN wb USING (word)),
              tw AS (SELECT ${graft.ops.EvalOps.harmonicWeightSqlCase("m", 30)} AS w FROM j)
         SELECT CAST(30 AS BIGINT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_common,
                COALESCE(ROUND(CAST(SUM(w) AS DOUBLE) / 30, 6), 0.0) AS avg_overlap
         FROM tw"""),

    "q_fanout_profile" ->
      """SELECT fanout, CAST(COUNT(*) AS BIGINT) AS n_orders
         FROM (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS fanout
               FROM lineitem GROUP BY l_orderkey)
         GROUP BY fanout ORDER BY fanout""",

    "q_bloom_advisor" ->
      """SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
                ROUND(-LN(0.01) / (LN(2.0) * LN(2.0)), 6) AS bits_per_key,
                CAST(CEIL(COUNT(DISTINCT l_orderkey) *
                          (-LN(0.01) / (LN(2.0) * LN(2.0)))) AS BIGINT) AS m_bits,
                CAST(ROUND(-LN(0.01) / LN(2.0), 0) AS BIGINT) AS k_hashes
         FROM lineitem""",

    "q_zorder_effect" -> s"""
         WITH b AS (SELECT o_custkey,
                           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                           (CAST(o_custkey AS BIGINT) & 65535) AS x,
                           (CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) & 65535) AS y
                    FROM orders),
              z AS (SELECT o_custkey, day,
                           ((${(0 until 16).map(i =>
                             s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
                             .mkString(" + ")}) >> 16) AS zcell,
                           o_custkey // 64 AS kbucket
                    FROM b)
         SELECT CAST(COUNT(DISTINCT zcell) AS BIGINT) AS z_files_total,
                CAST(COUNT(DISTINCT CASE WHEN day BETWEEN 600 AND 629 THEN zcell END) AS BIGINT) AS z_files_touched,
                CAST(COUNT(DISTINCT kbucket) AS BIGINT) AS lex_files_total,
                CAST(COUNT(DISTINCT CASE WHEN day BETWEEN 600 AND 629 THEN kbucket END) AS BIGINT) AS lex_files_touched,
                ROUND(CAST(COUNT(DISTINCT CASE WHEN day BETWEEN 600 AND 629 THEN zcell END) AS DOUBLE)
                      / COUNT(DISTINCT zcell), 6) AS z_touch_frac,
                ROUND(CAST(COUNT(DISTINCT CASE WHEN day BETWEEN 600 AND 629 THEN kbucket END) AS DOUBLE)
                      / COUNT(DISTINCT kbucket), 6) AS lex_touch_frac
         FROM z""",

    "q_ndcg_self" ->
      (bm25BatchOracleCore + """,
              hit AS (SELECT qid, rnk FROM rk WHERE doc_id = qid AND rnk <= 10),
              nq AS (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries FROM q)
         SELECT nq.n_queries,
                CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
                COALESCE(ROUND(CAST((SELECT SUM(CAST(ROUND(1.0 / log2(rnk + 1), 6) AS DECIMAL(18,6))) FROM hit) AS DOUBLE)
                               / nq.n_queries, 6), 0.0) AS ndcg
         FROM nq"""),

    "q_mcnemar" ->
      """WITH e AS (SELECT user_id, event_type,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec
                    FROM events WHERE ts IS NOT NULL),
              mid AS (SELECT CAST(floor((MIN(tsec) + MAX(tsec)) / 2.0) AS BIGINT) AS m FROM e),
              u AS (SELECT user_id,
                           MAX(CASE WHEN event_type = 'purchase' AND tsec < m THEN 1 ELSE 0 END) AS pre,
                           MAX(CASE WHEN event_type = 'purchase' AND tsec >= m THEN 1 ELSE 0 END) AS post
                    FROM e CROSS JOIN mid GROUP BY user_id),
              agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                             CAST(SUM(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                             CAST(SUM(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
                             CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                             CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
                      FROM u)
         SELECT n_users, n_both, n_neither, b, c,
                CASE WHEN b + c > 0
                     THEN ROUND(CAST(b - c AS DOUBLE) * (b - c) / (b + c), 6)
                END AS mcnemar_chi2
         FROM agg""",

    // model means, half-up cents residuals, exact-integer rank
    // threshold, coverage ratio — the whole chain mirrored
    "q_conformal_interval" ->
      """WITH o AS (SELECT o_orderpriority AS grp,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
                           CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':cf'), 1, 15)) AS BIGINT) % 5 AS split
                    FROM orders WHERE o_totalprice IS NOT NULL),
              model AS (SELECT grp, CAST(SUM(cents) AS DOUBLE) / COUNT(*) AS pred
                        FROM o WHERE split IN (0, 1, 2) GROUP BY grp),
              calr AS (SELECT CAST(ROUND(ABS(o.cents - m.pred), 0) AS BIGINT) AS r
                       FROM o JOIN model m USING (grp) WHERE split = 3),
              calh AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS c FROM calr GROUP BY r),
              ncal AS (SELECT CAST(SUM(c) AS BIGINT) AS n_cal FROM calh),
              cum AS (SELECT r, CAST(SUM(c) OVER (ORDER BY r ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                      FROM calh),
              kq AS (SELECT n_cal, ((n_cal + 1) * 9 + 9) // 10 AS k_rank FROM ncal),
              qh AS (SELECT n_cal, k_rank,
                            COALESCE(MIN(CASE WHEN cum >= k_rank THEN r END), MAX(r)) AS q_hat_cents
                     FROM cum CROSS JOIN kq GROUP BY n_cal, k_rank),
              tst AS (SELECT CAST(ROUND(ABS(o.cents - m.pred), 0) AS BIGINT) AS r
                      FROM o JOIN model m USING (grp) WHERE split = 4)
         SELECT q.n_cal, CAST(COUNT(*) AS BIGINT) AS n_test,
                CAST(q.k_rank AS BIGINT) AS k_rank, q.q_hat_cents,
                ROUND(CAST(SUM(CASE WHEN t.r <= q.q_hat_cents THEN 1 ELSE 0 END) AS DOUBLE)
                      / COUNT(*), 6) AS coverage,
                ROUND(CAST(9 AS DOUBLE) / 10, 6) AS target
         FROM tst t CROSS JOIN qh q GROUP BY q.n_cal, q.k_rank, q.q_hat_cents""",

    // exact decimal moments; the single z-sum literal parses to the
    // same double in both engines
    "q_mde_readout" ->
      """WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
                           (CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || ':arm'), 1, 15)) AS BIGINT) % 2 = 0) AS a
                    FROM orders WHERE o_totalprice IS NOT NULL),
              m AS (SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(c AS HUGEINT)) AS sx,
                           SUM(CAST(c AS HUGEINT) * c) AS sxx
                    FROM o),
              v AS (SELECT n_a, n_b,
                           CAST(n * sxx - sx * sx AS DOUBLE)
                             / (CAST(n AS DOUBLE) * (n - 1)) AS var,
                           CAST(sx AS DOUBLE) / n AS mean,
                           LEAST(n_a, n_b) AS ne
                    FROM m)
         SELECT n_a, n_b,
                ROUND(sqrt(var) / 100.0, 6) AS sigma,
                ROUND(2.8015852186 * sqrt(var * 2.0 / ne) / 100.0, 6) AS mde_abs,
                ROUND(2.8015852186 * sqrt(var * 2.0 / ne) / mean, 6) AS mde_rel
         FROM v""",

    // the headline chain GROUP BY'd per segment
    "q_welch_by_segment" ->
      """WITH e AS (SELECT event_type,
                           CAST(round(value * 100) AS BIGINT) AS c,
                           (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS a
                    FROM events WHERE event_type IS NOT NULL),
              f AS (SELECT event_type, a, c FROM e WHERE a IS NOT NULL AND c IS NOT NULL),
              m AS (SELECT event_type,
                           CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           SUM(CASE WHEN a THEN CAST(c AS HUGEINT) ELSE 0 END) AS s_a,
                           SUM(CASE WHEN a THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q_a,
                           CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           SUM(CASE WHEN NOT a THEN CAST(c AS HUGEINT) ELSE 0 END) AS s_b,
                           SUM(CASE WHEN NOT a THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q_b
                    FROM f GROUP BY event_type),
              w AS (SELECT event_type, n_a, n_b,
                           CAST(s_a AS DOUBLE) / n_a / 100.0 AS ma,
                           CAST(s_b AS DOUBLE) / n_b / 100.0 AS mb,
                           (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
                             / (n_a - 1.0) / 10000.0 AS va,
                           (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
                             / (n_b - 1.0) / 10000.0 AS vb
                    FROM m),
              v AS (SELECT *, va / n_a + vb / n_b AS sesq FROM w)
         SELECT event_type,
                n_a, n_b,
                CASE WHEN n_a > 0 THEN ROUND(ma, 6) END AS mean_a,
                CASE WHEN n_b > 0 THEN ROUND(mb, 6) END AS mean_b,
                CASE WHEN n_a >= 2 AND n_b >= 2 THEN ROUND(ma - mb, 6) END AS diff,
                CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0.0 OR vb > 0.0)
                     THEN ROUND(sqrt(sesq), 6) END AS se,
                CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0.0 OR vb > 0.0)
                     THEN ROUND((ma - mb) / sqrt(sesq), 6) END AS t,
                CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0.0 OR vb > 0.0)
                     THEN ROUND(sesq * sesq /
                       (va * va / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1.0))
                        + vb * vb / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1.0))), 6)
                END AS df_welch
         FROM v ORDER BY event_type""",

    // the identical cents moments and the identical Welch double chain,
    // division for division
    // the anova family shares the exact-cents group-moment core: ng/sg/qg
    // exact integers, between/within terms as single divisions of exact
    // numerators rounded 4dp into decimal sums (k-way float-add order
    // can't smear the total), one pinned double chain on the final row
    "q_anova_f" ->
      """WITH b AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM b GROUP BY g),
              tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
                             CAST(COUNT(*) AS BIGINT) AS k FROM grp),
              terms AS (SELECT n, k,
                               CAST(ROUND(CAST((sg * n - s * ng) * (sg * n - s * ng) AS DOUBLE)
                                          / CAST(CAST(n AS HUGEINT) * n * ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS bt,
                               CAST(ROUND(CAST(qg * ng - sg * sg AS DOUBLE) / CAST(ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS wt
                        FROM grp CROSS JOIN tot),
              ss AS (SELECT n, k, CAST(SUM(bt) AS DOUBLE) AS ssb, CAST(SUM(wt) AS DOUBLE) AS ssw
                     FROM terms GROUP BY n, k)
         SELECT n, k AS n_groups,
                ROUND(ssb / 1e4, 4) AS ss_between,
                ROUND(ssw / 1e4, 4) AS ss_within,
                CASE WHEN k >= 2 AND n > k AND ssw > 0
                     THEN ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) END AS f_stat
         FROM ss""",

    // Levene = the same core on |y - group mean| quantized to exact
    // hundredths-of-a-cent (W is scale-invariant; the coarser quantum
    // keeps (n*sum)^2 inside HUGEINT/DECIMAL(38))
    "q_levene" ->
      """WITH b AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
              mn AS (SELECT g, CAST(SUM(CAST(c AS HUGEINT)) AS DOUBLE) / COUNT(*) AS m
                     FROM b GROUP BY g),
              z AS (SELECT b.g AS g,
                           CAST(CAST(ROUND(ABS(b.c - mn.m), 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM b JOIN mn USING (g)),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM z GROUP BY g),
              tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
                             CAST(COUNT(*) AS BIGINT) AS k FROM grp),
              terms AS (SELECT n, k,
                               CAST(ROUND(CAST((sg * n - s * ng) * (sg * n - s * ng) AS DOUBLE)
                                          / CAST(CAST(n AS HUGEINT) * n * ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS bt,
                               CAST(ROUND(CAST(qg * ng - sg * sg AS DOUBLE) / CAST(ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS wt
                        FROM grp CROSS JOIN tot),
              ss AS (SELECT n, k, CAST(SUM(bt) AS DOUBLE) AS ssb, CAST(SUM(wt) AS DOUBLE) AS ssw
                     FROM terms GROUP BY n, k)
         SELECT n, k AS n_groups,
                CASE WHEN k >= 2 AND n > k AND ssw > 0
                     THEN ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) END AS w_stat
         FROM ss""",

    // Tukey-Kramer: the k-row group aggregate theta-joined against
    // itself (g_a < g_b) with the pooled MS_W broadcast on top
    "q_tukey_pairs" ->
      """WITH b AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM b GROUP BY g),
              tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
                             CAST(COUNT(*) AS BIGINT) AS k FROM grp),
              terms AS (SELECT n, k,
                               CAST(ROUND(CAST(qg * ng - sg * sg AS DOUBLE) / CAST(ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS wt
                        FROM grp CROSS JOIN tot),
              ss AS (SELECT n, k, CAST(SUM(wt) AS DOUBLE) AS ssw FROM terms GROUP BY n, k),
              msw AS (SELECT CASE WHEN n > k THEN ssw / 1e4 / (n - k) END AS msw FROM ss),
              gm AS (SELECT g, ng, ROUND(CAST(sg AS DOUBLE) / ng / 100.0, 6) AS mean FROM grp)
         SELECT a.g AS g_a, bb.g AS g_b, a.ng AS n_a, bb.ng AS n_b,
                a.mean AS mean_a, bb.mean AS mean_b,
                CASE WHEN msw > 0
                     THEN ROUND(ABS(a.mean - bb.mean) /
                                SQRT(msw / 2.0 * (1.0 / a.ng + 1.0 / bb.ng)), 6)
                END AS q_stat
         FROM gm a JOIN gm bb ON a.g < bb.g CROSS JOIN msw
         ORDER BY g_a, g_b""",

    // Kruskal-Wallis: the mann-whitney doubled-rank histogram at any
    // group count; H in the cancellation-free deviations form
    "q_kruskal_wallis" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE value IS NOT NULL AND event_type IS NOT NULL),
              hist AS (SELECT v, g, CAST(COUNT(*) AS BIGINT) AS cgv FROM f GROUP BY v, g),
              vt AS (SELECT v, CAST(SUM(cgv) AS BIGINT) AS t FROM hist GROUP BY v),
              r AS (SELECT v, t,
                           COALESCE(SUM(t) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS r2
                    FROM vt),
              tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties
                      FROM r),
              byg AS (SELECT g, CAST(SUM(cgv) AS BIGINT) AS ng,
                             SUM(CAST(cgv AS HUGEINT) * r2) AS r2g
                      FROM hist JOIN r USING (v) GROUP BY g),
              devs AS (SELECT n, ties, ng,
                              CAST(r2g AS DOUBLE) / CAST(ng * 2 AS DOUBLE)
                                - CAST(n + 1 AS DOUBLE) / 2.0 AS dev
                       FROM byg CROSS JOIN tot),
              terms AS (SELECT n, ties,
                               CAST(ROUND(ng * dev * dev, 4) AS DECIMAL(38,4)) AS bt
                        FROM devs),
              sb AS (SELECT n, ties, CAST(COUNT(*) AS BIGINT) AS k, SUM(bt) AS sbv
                     FROM terms GROUP BY n, ties)
         SELECT n, k AS n_groups,
                ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                        * CAST(sbv AS DOUBLE), 6) AS h,
                CASE WHEN 1.0 - CAST(ties AS DOUBLE) /
                              (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               - CAST(n AS DOUBLE)) > 0
                     THEN ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
                                  * CAST(sbv AS DOUBLE) /
                                (1.0 - CAST(ties AS DOUBLE) /
                                  (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                   - CAST(n AS DOUBLE))), 6)
                END AS h_tie_adj
         FROM sb WHERE n > 1""",

    // 2JT = sum c*(2A+B) over the dense (support x groups) grid — pair
    // counting without pair enumeration; classical no-ties moments
    "q_jonckheere" ->
      """WITH kept AS (SELECT CAST(l_quantity AS DOUBLE) AS v, l_linenumber AS g FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
              h AS (SELECT v, g, CAST(COUNT(*) AS BIGINT) AS c FROM kept GROUP BY 1, 2),
              cumd AS (SELECT v, g, c,
                              COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                       FROM h),
              vs AS (SELECT DISTINCT v FROM h),
              gs AS (SELECT DISTINCT g FROM h),
              dense AS (SELECT vs.v, gs.g, COALESCE(cumd.c, 0) AS c, cumd.cum
                        FROM vs CROSS JOIN gs
                        LEFT JOIN cumd ON cumd.v = vs.v AND cumd.g = gs.g),
              filled AS (SELECT v, g, c,
                                COALESCE(cum,
                                  MAX(CASE WHEN cum IS NOT NULL THEN cum + c END)
                                    OVER (PARTITION BY g ORDER BY v ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                  0) AS cumf
                         FROM dense),
              terms AS (SELECT v, g, c,
                               COALESCE(SUM(cumf) OVER wp, 0) AS a,
                               COALESCE(SUM(c) OVER wp, 0) AS b
                        FROM filled
                        WINDOW wp AS (PARTITION BY v ORDER BY g ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              m AS (SELECT SUM(CAST(c AS HUGEINT) * (CAST(a AS HUGEINT) * 2 + b)) AS jt2
                    FROM terms WHERE c > 0),
              sz AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS ntot,
                            SUM(CAST(ng AS HUGEINT) * ng) AS sn2,
                            SUM(CAST(ng AS HUGEINT) * ng * (ng * 2 + 3)) AS sn23
                     FROM (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng FROM kept GROUP BY g)),
              e AS (SELECT k, ntot, CAST(jt2 AS DOUBLE) / 2.0 AS jt,
                           (CAST(ntot AS DOUBLE) * ntot - CAST(sn2 AS DOUBLE)) / 4.0 AS ejt,
                           (CAST(ntot AS DOUBLE) * ntot * (2.0 * CAST(ntot AS DOUBLE) + 3.0)
                            - CAST(sn23 AS DOUBLE)) / 72.0 AS varj
                    FROM m CROSS JOIN sz WHERE k > 1)
         SELECT ntot AS n, k, ROUND(jt, 1) AS jt_stat,
                CASE WHEN varj > 0 THEN ROUND((jt - ejt) / SQRT(varj), 6) END AS z,
                CASE WHEN jt > ejt THEN 'increasing'
                     WHEN jt < ejt THEN 'decreasing'
                     ELSE 'none' END AS direction
         FROM e""",

    // Cochran-Armitage: every moment an exact integer; z as a single
    // division of exact numerator/denominator forms
    "q_trend_test" ->
      """WITH b AS (SELECT CAST(l_linenumber AS BIGINT) AS w,
                           (l_returnflag = 'R') AS s
                    FROM lineitem
                    WHERE l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS r,
                           SUM(CAST(w AS HUGEINT)) AS sw,
                           SUM(CAST(w AS HUGEINT) * w) AS sww,
                           SUM(CASE WHEN s THEN CAST(w AS HUGEINT) ELSE 0 END) AS srw
                    FROM b)
         SELECT n, r AS n_success,
                CASE WHEN r > 0 AND r < n
                          AND CAST(r AS HUGEINT) * (n - r) * (sww * n - sw * sw) > 0
                     THEN ROUND(CAST(srw * n - r * sw AS DOUBLE) * SQRT(CAST(n AS DOUBLE)) /
                                SQRT(CAST(CAST(r AS HUGEINT) * (n - r) * (sww * n - sw * sw) AS DOUBLE)), 8)
                END AS z
         FROM m""",

    // RDD at quantity 25 +/- 15: x recentered and quantized to exact
    // integer micro-units, y to exact cents; per-side OLS moments as
    // conditional exact sums in ONE pass; fits as single divisions
    "q_rdd_readout" ->
      """WITH b AS (SELECT CAST(CAST(ROUND(CAST(l_quantity AS DOUBLE) - 25.0, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xm,
                           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                      AND CAST(l_quantity AS DOUBLE) >= 10.0 AND CAST(l_quantity AS DOUBLE) <= 40.0),
              m AS (SELECT
                      CAST(SUM(CASE WHEN xm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
                      SUM(CASE WHEN xm < 0 THEN CAST(xm AS HUGEINT) ELSE 0 END) AS sx_l,
                      SUM(CASE WHEN xm < 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy_l,
                      SUM(CASE WHEN xm < 0 THEN CAST(xm AS HUGEINT) * xm ELSE 0 END) AS sxx_l,
                      SUM(CASE WHEN xm < 0 THEN CAST(xm AS HUGEINT) * y ELSE 0 END) AS sxy_l,
                      CAST(SUM(CASE WHEN xm >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
                      SUM(CASE WHEN xm >= 0 THEN CAST(xm AS HUGEINT) ELSE 0 END) AS sx_r,
                      SUM(CASE WHEN xm >= 0 THEN CAST(y AS HUGEINT) ELSE 0 END) AS sy_r,
                      SUM(CASE WHEN xm >= 0 THEN CAST(xm AS HUGEINT) * xm ELSE 0 END) AS sxx_r,
                      SUM(CASE WHEN xm >= 0 THEN CAST(xm AS HUGEINT) * y ELSE 0 END) AS sxy_r
                    FROM b),
              fit AS (SELECT *,
                             CAST(n_l AS HUGEINT) * sxx_l - sx_l * sx_l AS den_l,
                             CAST(n_r AS HUGEINT) * sxx_r - sx_r * sx_r AS den_r
                      FROM m),
              f2 AS (SELECT *,
                            CAST(CAST(n_l AS HUGEINT) * sxy_l - sx_l * sy_l AS DOUBLE)
                              / CAST(den_l AS DOUBLE) AS sl_raw,
                            CAST(CAST(n_r AS HUGEINT) * sxy_r - sx_r * sy_r AS DOUBLE)
                              / CAST(den_r AS DOUBLE) AS sr_raw
                     FROM fit),
              f3 AS (SELECT *,
                            (CAST(sy_l AS DOUBLE) - sl_raw * CAST(sx_l AS DOUBLE))
                              / CAST(n_l AS DOUBLE) / 100.0 AS yl,
                            (CAST(sy_r AS DOUBLE) - sr_raw * CAST(sx_r AS DOUBLE))
                              / CAST(n_r AS DOUBLE) / 100.0 AS yr
                     FROM f2)
         SELECT n_l AS n_left, n_r AS n_right,
                CASE WHEN n_l >= 2 AND den_l > 0 THEN ROUND(yl, 6) END AS y_left,
                CASE WHEN n_r >= 2 AND den_r > 0 THEN ROUND(yr, 6) END AS y_right,
                CASE WHEN n_l >= 2 AND den_l > 0 THEN ROUND(sl_raw * 1e6 / 100.0, 6) END AS slope_left,
                CASE WHEN n_r >= 2 AND den_r > 0 THEN ROUND(sr_raw * 1e6 / 100.0, 6) END AS slope_right,
                CASE WHEN n_l >= 2 AND den_l > 0 AND n_r >= 2 AND den_r > 0
                     THEN ROUND(ROUND(yr, 6) - ROUND(yl, 6), 6) END AS rdd_effect
         FROM f3""",

    // single mean-shift changepoint: gain via the exact-numerator
    // identity (n*S_t - t*S)^2 / (t*(n-t)*n) — no ~n^2 float
    // subtraction; ties break to the earliest day on the RAW gain
    "q_changepoint_mean" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               CAST(COUNT(*) AS BIGINT) AS nd,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS sd
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS n, CAST(SUM(sd) AS HUGEINT) AS s FROM daily),
              cum AS (SELECT d,
                             CAST(SUM(nd) OVER (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS t,
                             CAST(SUM(CAST(sd AS HUGEINT)) OVER (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS st
                      FROM daily),
              cand AS (SELECT d, t, st, n, s,
                              CAST((CAST(n AS HUGEINT) * st - CAST(t AS HUGEINT) * s) *
                                   (CAST(n AS HUGEINT) * st - CAST(t AS HUGEINT) * s) AS DOUBLE) /
                              CAST(CAST(t AS HUGEINT) * (n - t) * n AS DOUBLE) AS g_raw
                       FROM cum CROSS JOIN tot WHERE t < n)
         SELECT d AS split_day, t AS n_left, n - t AS n_right,
                ROUND(CAST(st AS DOUBLE) / t / 100.0, 6) AS mean_left,
                ROUND(CAST(s - st AS DOUBLE) / (n - t) / 100.0, 6) AS mean_right,
                ROUND(g_raw / 1e4, 6) AS gain
         FROM cand ORDER BY g_raw DESC, d ASC LIMIT 1""",

    // MH terms r/s/p/q as single divisions of exact cell counts rounded
    // 8dp into decimal sums; RBG variance and the E-value on one row
    "q_mantel_haenszel" ->
      """WITH b AS (SELECT l_linenumber AS s, (l_discount > 0.05) AS e, (l_returnflag = 'R') AS o
                    FROM lineitem
                    WHERE l_linenumber IS NOT NULL AND l_discount IS NOT NULL
                      AND l_returnflag IS NOT NULL),
              cells AS (SELECT s,
                               CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
                               CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS bb,
                               CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
                               CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
                        FROM b GROUP BY s),
              terms AS (SELECT
                          CAST(ROUND(CAST(a AS DOUBLE) * d / CAST(a + bb + c + d AS DOUBLE), 8) AS DECIMAL(24,8)) AS r,
                          CAST(ROUND(CAST(bb AS DOUBLE) * c / CAST(a + bb + c + d AS DOUBLE), 8) AS DECIMAL(24,8)) AS ss,
                          CAST(ROUND((CAST(a AS DOUBLE) * d / CAST(a + bb + c + d AS DOUBLE))
                                     * (CAST(a + d AS DOUBLE) / CAST(a + bb + c + d AS DOUBLE)), 8) AS DECIMAL(24,8)) AS pr,
                          CAST(ROUND((CAST(a AS DOUBLE) * d / CAST(a + bb + c + d AS DOUBLE))
                                     * (CAST(bb + c AS DOUBLE) / CAST(a + bb + c + d AS DOUBLE))
                                     + (CAST(bb AS DOUBLE) * c / CAST(a + bb + c + d AS DOUBLE))
                                     * (CAST(a + d AS DOUBLE) / CAST(a + bb + c + d AS DOUBLE)), 8) AS DECIMAL(24,8)) AS psqr,
                          CAST(ROUND((CAST(bb AS DOUBLE) * c / CAST(a + bb + c + d AS DOUBLE))
                                     * (CAST(bb + c AS DOUBLE) / CAST(a + bb + c + d AS DOUBLE)), 8) AS DECIMAL(24,8)) AS qs
                        FROM cells),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
                           SUM(r) AS sr, SUM(ss) AS sss,
                           SUM(pr) AS spr, SUM(psqr) AS spsqr, SUM(qs) AS sqs
                    FROM terms),
              e AS (SELECT n_strata,
                           CAST(sr AS DOUBLE) AS srd, CAST(sss AS DOUBLE) AS ssd,
                           CAST(sr AS DOUBLE) / CAST(sss AS DOUBLE) AS ormh,
                           CAST(spr AS DOUBLE) / (2.0 * CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                             + CAST(spsqr AS DOUBLE) / (2.0 * CAST(sr AS DOUBLE) * CAST(sss AS DOUBLE))
                             + CAST(sqs AS DOUBLE) / (2.0 * CAST(sss AS DOUBLE) * CAST(sss AS DOUBLE)) AS varln
                    FROM m),
              f AS (SELECT *, CASE WHEN ormh >= 1.0 THEN ormh ELSE 1.0 / ormh END AS rr FROM e)
         SELECT n_strata,
                CASE WHEN srd > 0 AND ssd > 0 THEN ROUND(ormh, 6) END AS or_mh,
                CASE WHEN srd > 0 AND ssd > 0 AND varln >= 0
                     THEN ROUND(EXP(LN(ormh) - 1.96 * SQRT(varln)), 6) END AS or_lo,
                CASE WHEN srd > 0 AND ssd > 0 AND varln >= 0
                     THEN ROUND(EXP(LN(ormh) + 1.96 * SQRT(varln)), 6) END AS or_hi,
                CASE WHEN srd > 0 AND ssd > 0
                     THEN ROUND(CASE WHEN rr > 1.0 THEN rr + SQRT(rr * (rr - 1.0)) ELSE 1.0 END, 6)
                END AS e_value
         FROM f""",

    // NTILE in the oracle mirrors the engine's distributed kernel
    // (row-identical by contract); everything after is decile-sized
    "q_qini" ->
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
                           (SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14) AS converted,
                           (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS treated
                    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                    GROUP BY user_id),
              tiled AS (SELECT *, CAST(NTILE(10) OVER (ORDER BY CAST(score AS DOUBLE) DESC, user_id ASC) AS BIGINT) AS decile
                        FROM u),
              per AS (SELECT decile,
                             CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_treated,
                             CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
                             CAST(SUM(CASE WHEN treated AND converted THEN 1 ELSE 0 END) AS BIGINT) AS conv_treated,
                             CAST(SUM(CASE WHEN NOT treated AND converted THEN 1 ELSE 0 END) AS BIGINT) AS conv_control
                      FROM tiled GROUP BY decile),
              cum AS (SELECT *,
                             CAST(SUM(conv_treated) OVER wc AS BIGINT) AS ct,
                             CAST(SUM(conv_control) OVER wc AS BIGINT) AS cc,
                             CAST(SUM(n_treated) OVER wc AS BIGINT) AS nt,
                             CAST(SUM(n_control) OVER wc AS BIGINT) AS nc
                      FROM per
                      WINDOW wc AS (ORDER BY decile ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT decile, n_treated, n_control, conv_treated, conv_control,
                CASE WHEN nc > 0
                     THEN ROUND(CAST(ct AS DOUBLE) - CAST(cc AS DOUBLE) * nt / nc, 6)
                END AS qini
         FROM cum ORDER BY decile""",

    // DW off exact-integer-cent residuals of the closed-form day trend;
    // both quadratic sums exact under any partitioning
    "q_durbin_watson" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              se AS (SELECT g.idx, COALESCE(d.s, 0) AS y
                     FROM grid g LEFT JOIN
                       (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, s
                        FROM daily) d USING (idx)),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(idx AS HUGEINT)) AS st, SUM(CAST(y AS HUGEINT)) AS sy,
                           SUM(CAST(idx AS HUGEINT) * idx) AS stt,
                           SUM(CAST(idx AS HUGEINT) * y) AS sty
                    FROM se),
              fit AS (SELECT n,
                             CASE WHEN n * stt - st * st > 0
                                  THEN CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE)
                                  ELSE 0.0 END AS bcoef,
                             CASE WHEN n * stt - st * st > 0
                                  THEN (CAST(sy AS DOUBLE) -
                                        CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE)
                                          * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE)
                                  ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) END AS acoef,
                             (n * stt - st * st > 0) AS hasden,
                             CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) AS rawslope
                      FROM m),
              res AS (SELECT se.idx, fit.n,
                             CAST(ROUND(CAST(y AS DOUBLE) - (acoef + bcoef * se.idx), 0) AS BIGINT) AS e
                      FROM se CROSS JOIN fit),
              lagd AS (SELECT idx, n, e,
                              LAG(e, 1) OVER (ORDER BY idx ASC) AS ep
                       FROM res),
              agg AS (SELECT CAST(MAX(n) AS BIGINT) AS n_days,
                             SUM(CAST(e AS HUGEINT) * e) AS see,
                             SUM(CASE WHEN ep IS NOT NULL
                                      THEN CAST(e - ep AS HUGEINT) * (e - ep)
                                      ELSE 0 END) AS sd
                      FROM lagd)
         SELECT n_days,
                CASE WHEN hasden THEN ROUND(rawslope / 100.0, 6) END AS slope,
                CASE WHEN see > 0 THEN ROUND(CAST(sd AS DOUBLE) / CAST(see AS DOUBLE), 6) END AS dw,
                CASE WHEN see > 0
                     THEN ROUND(1.0 - CAST(sd AS DOUBLE) / CAST(see AS DOUBLE) / 2.0, 6)
                END AS rho1
         FROM agg CROSS JOIN fit""",

    // S over the day-pair triangle (quadratic in DAYS, the theil_sen
    // shape); tie-corrected variance, continuity-corrected z
    "q_mann_kendall" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              p AS (SELECT CAST(SUM(CAST(SIGN(CAST(b.s - a.s AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
                    FROM daily a JOIN daily b ON a.d < b.d),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(t AS HUGEINT) * (t - 1) * (t * 2 + 5)) AS tiemass
                    FROM (SELECT s, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY s)),
              v AS (SELECT s_stat, n,
                           CAST(CAST(n AS HUGEINT) * (n - 1) * (n * 2 + 5) - tiemass AS DOUBLE) / 18.0 AS vars
                    FROM p CROSS JOIN t WHERE n > 1)
         SELECT n AS n_days, s_stat,
                CASE WHEN vars > 0
                     THEN ROUND(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / SQRT(vars)
                                     WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / SQRT(vars)
                                     ELSE 0.0 END, 6)
                END AS z,
                CASE WHEN s_stat > 0 THEN 'increasing'
                     WHEN s_stat < 0 THEN 'decreasing'
                     ELSE 'none' END AS direction
         FROM v""",

    // additive decomposition: grid zeros are real observations; trend a
    // 7-day centered exact-cents mean; seasonal means through micros
    "q_seasonal_decompose" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx,
                           CAST((SELECT d0 FROM b) AS DATE) + CAST(g.idx AS INT) AS day,
                           COALESCE(d.s, 0) AS s
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, s
                       FROM daily) d USING (idx)),
              t AS (SELECT idx, day, s,
                           ROUND(CAST(s AS DOUBLE) / 100.0, 6) AS value,
                           CASE WHEN COUNT(*) OVER w7 = 7
                                THEN ROUND(CAST(SUM(s) OVER w7 AS DOUBLE) / 7.0 / 100.0, 6) END AS trend
                    FROM s
                    WINDOW w7 AS (ORDER BY idx ASC ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              t2 AS (SELECT *,
                            CASE WHEN trend IS NOT NULL THEN ROUND(value - trend, 6) END AS detr,
                            ((datediff('day', DATE '2024-01-01', day) % 7) + 7) % 7 AS dow
                     FROM t),
              se AS (SELECT dow,
                            ROUND(CAST(SUM(CAST(CAST(detr AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS DOUBLE)
                                  / COUNT(*) / 1e6, 6) AS seasonal
                     FROM t2 WHERE detr IS NOT NULL GROUP BY dow)
         SELECT day, value, trend, seasonal,
                CASE WHEN trend IS NOT NULL AND seasonal IS NOT NULL
                     THEN ROUND(value - trend - seasonal, 6) END AS residual
         FROM t2 LEFT JOIN se USING (dow) ORDER BY day""",

    // nested-OLS F in closed form off nine exact HUGEINT moments of
    // (y, y1, x1) on the lag-joined day grid
    "q_granger_lite" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
                               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
                        FROM events
                        WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
                        GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.x, 0) AS x, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, x, y
                       FROM daily) d USING (idx)),
              l AS (SELECT a.y AS y, bb.y AS y1, bb.x AS x1
                    FROM s a JOIN s bb ON a.idx = bb.idx + 1),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(y AS HUGEINT)) AS sy, SUM(CAST(y1 AS HUGEINT)) AS sy1,
                           SUM(CAST(x1 AS HUGEINT)) AS sx1,
                           SUM(CAST(y AS HUGEINT) * y) AS syy,
                           SUM(CAST(y1 AS HUGEINT) * y1) AS sy1y1,
                           SUM(CAST(x1 AS HUGEINT) * x1) AS sx1x1,
                           SUM(CAST(y AS HUGEINT) * y1) AS syy1,
                           SUM(CAST(y AS HUGEINT) * x1) AS syx1,
                           SUM(CAST(y1 AS HUGEINT) * x1) AS sy1x1
                    FROM l),
              c AS (SELECT n,
                           CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > 0 AND CAST(n * sy1y1 - sy1 * sy1 AS DOUBLE) > 0
                                THEN CAST(n * syy1 - sy * sy1 AS DOUBLE) /
                                     SQRT(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * sy1y1 - sy1 * sy1 AS DOUBLE)) END AS ra,
                           CASE WHEN CAST(n * syy - sy * sy AS DOUBLE) > 0 AND CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE) > 0
                                THEN CAST(n * syx1 - sy * sx1 AS DOUBLE) /
                                     SQRT(CAST(n * syy - sy * sy AS DOUBLE) * CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE)) END AS rb,
                           CASE WHEN CAST(n * sy1y1 - sy1 * sy1 AS DOUBLE) > 0 AND CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE) > 0
                                THEN CAST(n * sy1x1 - sy1 * sx1 AS DOUBLE) /
                                     SQRT(CAST(n * sy1y1 - sy1 * sy1 AS DOUBLE) * CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE)) END AS rc
                    FROM m),
              f2 AS (SELECT n, ra, rb, rc,
                            (ra * ra + rb * rb - 2.0 * ra * rb * rc) / (1.0 - rc * rc) AS r2f,
                            (ra IS NOT NULL AND rb IS NOT NULL AND rc IS NOT NULL
                             AND 1.0 - rc * rc > 0 AND n > 3) AS ok
                     FROM c)
         SELECT n AS n_days_used,
                CASE WHEN ra IS NOT NULL THEN ROUND(ra * ra, 6) END AS r2_restricted,
                CASE WHEN ok THEN ROUND(r2f, 6) END AS r2_full,
                CASE WHEN ok AND 1.0 - r2f > 0
                     THEN ROUND(GREATEST(0.0, (r2f - ra * ra) * (n - 3) / (1.0 - r2f)), 6)
                END AS f_stat
         FROM f2""",

    // Pettitt: doubled mid-ranks of the daily means make U_t the exact
    // integer identity sum(r2, i<=t) - t(n+1) — no pair enumeration
    "q_pettitt" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) / COUNT(*) AS m
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              hist AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY m),
              rnk AS (SELECT m, COALESCE(SUM(t) OVER (ORDER BY m ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS r2
                      FROM hist),
              tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
              u AS (SELECT d, n,
                           CAST(COUNT(*) OVER wt AS BIGINT) AS i,
                           CAST(SUM(r2) OVER wt AS BIGINT) AS dsum
                    FROM daily JOIN rnk USING (m) CROSS JOIN tot
                    WINDOW wt AS (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              uu AS (SELECT d, n, dsum - i * (n + 1) AS uv FROM u WHERE i < n)
         SELECT d AS split_day, n AS n_days, ABS(uv) AS k_stat,
                ROUND(LEAST(1.0, 2.0 * EXP(-6.0 * CAST(ABS(uv) AS DOUBLE) * CAST(ABS(uv) AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                         + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))), 6) AS p_approx
         FROM uu ORDER BY ABS(uv) DESC, d ASC LIMIT 1""",

    // log-rank: at-risk sets off cumulative windows over the duration
    // grid; per-time hypergeometric E/V rounded 8dp into decimal sums
    "q_log_rank" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f,
                           MIN(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END) AS p
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              mx AS (SELECT MAX(date_trunc('day', ts)) AS maxd FROM events WHERE ts IS NOT NULL),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(COALESCE(p, maxd) AS DATE)) AS BIGINT) AS t,
                               (p IS NOT NULL) AS ev,
                               (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS isa
                        FROM u CROSS JOIN mx),
              c AS (SELECT t,
                           CAST(SUM(CASE WHEN isa AND ev THEN 1 ELSE 0 END) AS BIGINT) AS da,
                           CAST(SUM(CASE WHEN NOT isa AND ev THEN 1 ELSE 0 END) AS BIGINT) AS db,
                           CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS la,
                           CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS lb
                    FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(la) AS BIGINT) AS na, CAST(SUM(lb) AS BIGINT) AS nb FROM c),
              r AS (SELECT t, da, db, na, nb,
                           na - COALESCE(SUM(la) OVER wp, 0) AS ra,
                           nb - COALESCE(SUM(lb) OVER wp, 0) AS rb
                    FROM c CROSS JOIN tot
                    WINDOW wp AS (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              terms AS (SELECT na, nb, da,
                               CAST(ROUND(CAST(da + db AS DOUBLE) * CAST(ra AS DOUBLE) / CAST(ra + rb AS DOUBLE), 8) AS DECIMAL(24,8)) AS et,
                               CAST(ROUND(CASE WHEN ra + rb > 1
                                          THEN CAST(da + db AS DOUBLE) * (CAST(ra AS DOUBLE) / CAST(ra + rb AS DOUBLE)) *
                                               (1.0 - CAST(ra AS DOUBLE) / CAST(ra + rb AS DOUBLE)) *
                                               CAST(ra + rb - (da + db) AS DOUBLE) / CAST(ra + rb - 1 AS DOUBLE)
                                          ELSE 0.0 END, 8) AS DECIMAL(24,8)) AS vt
                        FROM r WHERE da + db > 0),
              m AS (SELECT na, nb, CAST(SUM(da) AS BIGINT) AS observed_a,
                           SUM(et) AS ea, SUM(vt) AS va
                    FROM terms GROUP BY na, nb)
         SELECT na AS n_a, nb AS n_b, observed_a,
                ROUND(CAST(ea AS DOUBLE), 6) AS expected_a,
                CASE WHEN CAST(va AS DOUBLE) > 0
                     THEN ROUND((CAST(observed_a AS DOUBLE) - CAST(ea AS DOUBLE)) *
                                (CAST(observed_a AS DOUBLE) - CAST(ea AS DOUBLE)) / CAST(va AS DOUBLE), 6)
                END AS chi2,
                CASE WHEN CAST(va AS DOUBLE) > 0
                     THEN ROUND((CAST(observed_a AS DOUBLE) - CAST(ea AS DOUBLE)) / SQRT(CAST(va AS DOUBLE)), 6)
                END AS z
         FROM m""",

    // CvM: per pooled point t*(Fa-Fb)^2 rounded 8dp into decimal; the
    // nm/N^2 normalizer on the final row
    "q_cvm_test" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')),
              c AS (SELECT CAST(v AS DOUBLE) AS v,
                           CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY 1),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS ta, CAST(SUM(cb) AS BIGINT) AS tb FROM c),
              cdf AS (SELECT ta, tb, ca, cb,
                             SUM(ca) OVER wc AS fa, SUM(cb) OVER wc AS fb
                      FROM c CROSS JOIN tot
                      WINDOW wc AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              terms AS (SELECT ta, tb,
                               CAST(ROUND(CAST(ca + cb AS DOUBLE) *
                                          (CAST(fa AS DOUBLE) / ta - CAST(fb AS DOUBLE) / tb) *
                                          (CAST(fa AS DOUBLE) / ta - CAST(fb AS DOUBLE) / tb), 8)
                                    AS DECIMAL(24,8)) AS t
                        FROM cdf WHERE ta > 0 AND tb > 0)
         SELECT ta AS n_a, tb AS n_b,
                ROUND(CAST(ta AS DOUBLE) * tb /
                      ((CAST(ta AS DOUBLE) + tb) * (CAST(ta AS DOUBLE) + tb)) *
                      CAST(SUM(t) AS DOUBLE), 6) AS t_stat
         FROM terms GROUP BY ta, tb""",

    // W1 = area between the two CDFs over the pre-binned support:
    // per-step |gap| * width rounded 8dp into a decimal sum
    "q_wasserstein" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')),
              c AS (SELECT CAST(v AS DOUBLE) AS v,
                           CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY 1),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS ta, CAST(SUM(cb) AS BIGINT) AS tb FROM c),
              cdf AS (SELECT ta, tb, v,
                             SUM(ca) OVER wc AS fa, SUM(cb) OVER wc AS fb,
                             LEAD(v, 1) OVER (ORDER BY v ASC) AS nxt
                      FROM c CROSS JOIN tot
                      WINDOW wc AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              terms AS (SELECT ta, tb,
                               CAST(ROUND(ABS(CAST(fa AS DOUBLE) / ta - CAST(fb AS DOUBLE) / tb)
                                          * (nxt - v), 8) AS DECIMAL(24,8)) AS w
                        FROM cdf WHERE nxt IS NOT NULL AND ta > 0 AND tb > 0)
         SELECT ta AS n_a, tb AS n_b, ROUND(CAST(SUM(w) AS DOUBLE), 6) AS w1
         FROM terms GROUP BY ta, tb""",

    // Nelson-Aalen: the kaplan-meier risk sets with an additive d/n
    // hazard cumsum (8dp steps through decimal) instead of the product
    "q_nelson_aalen" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f,
                           MIN(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END) AS p
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              mx AS (SELECT MAX(date_trunc('day', ts)) AS maxd FROM events WHERE ts IS NOT NULL),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(COALESCE(p, maxd) AS DATE)) AS BIGINT) AS t,
                               (p IS NOT NULL) AS ev
                        FROM u CROSS JOIN mx),
              c AS (SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                           CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
                    FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS n FROM c),
              r AS (SELECT t, n_events, n_censored,
                           n - COALESCE(SUM(n_events + n_censored)
                                 OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM c CROSS JOIN tot),
              h AS (SELECT t, n_risk, n_events, n_censored,
                           SUM(CAST(ROUND(CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 8) AS DECIMAL(18,8)))
                             OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
                    FROM r)
         SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
                ROUND(CAST(ch AS DOUBLE), 6) AS cum_hazard,
                ROUND(EXP(-CAST(ch AS DOUBLE)), 6) AS na_survival
         FROM h ORDER BY t""",

    // Chapman capture-recapture: all-integer presence totals; N-hat and
    // Var as single divisions of exact products
    "q_capture_recapture" ->
      """WITH per AS (SELECT o_custkey,
                             MAX(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS a,
                             MAX(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS b
                      FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
              f AS (SELECT * FROM per WHERE a + b > 0),
              m AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb,
                           CAST(SUM(a * b) AS BIGINT) AS nm, CAST(COUNT(*) AS BIGINT) AS no FROM f),
              e AS (SELECT na, nb, nm, no,
                           CAST(CAST(na + 1 AS HUGEINT) * (nb + 1) AS DOUBLE) / (nm + 1) - 1.0 AS nhat,
                           SQRT(CAST(CAST(na + 1 AS HUGEINT) * (nb + 1) * (na - nm) * (nb - nm) AS DOUBLE) /
                                CAST(CAST(nm + 1 AS HUGEINT) * (nm + 1) * (nm + 2) AS DOUBLE)) AS se
                    FROM m)
         SELECT na AS n_a, nb AS n_b, nm AS n_both, no AS n_observed,
                ROUND(nhat, 6) AS n_hat,
                ROUND(nhat - 1.96 * se, 6) AS ci_lo,
                ROUND(nhat + 1.96 * se, 6) AS ci_hi
         FROM e""",

    // Chao1 + Good-Turing off the word histogram's singleton/doubleton
    // counts — four conditional sums, one pinned double chain each
    "q_vocab_richness" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
              wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM w GROUP BY word),
              m AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS vocab,
                           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                           CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
                    FROM wc)
         SELECT n_tokens, vocab, f1, f2,
                ROUND(vocab + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1,
                CASE WHEN n_tokens > 0 THEN ROUND(CAST(f1 AS DOUBLE) / n_tokens, 8) END AS p_unseen
         FROM m""",

    // item-item CF: distinct (basket, item) incidences, per-basket pair
    // join (i1 < i2), cosine off exact counts, rank window in the
    // oracle where the engine runs the bounded heap
    "q_item_cf_topk" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
                     WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
              ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM it GROUP BY i),
              p AS (SELECT x.i AS i1, y.i AS i2, CAST(COUNT(*) AS BIGINT) AS cooc
                    FROM it x JOIN it y ON x.b = y.b AND x.i < y.i
                    GROUP BY 1, 2 HAVING COUNT(*) >= 2),
              bo AS (SELECT i1, i2, cooc FROM p
                     UNION ALL SELECT i2 AS i1, i1 AS i2, cooc FROM p),
              s AS (SELECT bo.i1 AS item, bo.i2 AS neighbor,
                           ROUND(CAST(cooc AS DOUBLE) / SQRT(CAST(c1.c AS DOUBLE) * c2.c), 8) AS cosine
                    FROM bo JOIN ic c1 ON bo.i1 = c1.i JOIN ic c2 ON bo.i2 = c2.i),
              r AS (SELECT item, neighbor, cosine,
                           CAST(ROW_NUMBER() OVER (PARTITION BY item ORDER BY cosine DESC, neighbor ASC) AS INT) AS rank
                    FROM s)
         SELECT item, neighbor, cosine, rank FROM r WHERE rank <= 5
         ORDER BY item, rank""",

    // tau-b: concordant/discordant mass off 2-D strict prefix sums on
    // the dense marginal-cross grid — C, D exact integers
    "q_kendall_tau" ->
      """WITH b AS (SELECT l_quantity AS x, l_linenumber AS y FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
              cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
              mx AS (SELECT x, CAST(SUM(n) AS BIGINT) AS cx FROM cells GROUP BY x),
              my AS (SELECT y, CAST(SUM(n) AS BIGINT) AS cy FROM cells GROUP BY y),
              grid AS (SELECT mx.x, my.y, mx.cx, COALESCE(cells.n, 0) AS n
                       FROM mx CROSS JOIN my
                       LEFT JOIN cells ON cells.x = mx.x AND cells.y = my.y),
              g2 AS (SELECT x, y, cx, n,
                            COALESCE(SUM(n) OVER (PARTITION BY x ORDER BY y ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb
                     FROM grid),
              g3 AS (SELECT x, y, n,
                            COALESCE(SUM(bb) OVER wr, 0) AS p,
                            COALESCE(SUM(n) OVER wr, 0) AS r,
                            COALESCE(SUM(cx) OVER wr, 0) AS cxp
                     FROM g2
                     WINDOW wr AS (PARTITION BY y ORDER BY x ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              m AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                           SUM(CAST(n AS HUGEINT) * p) AS c,
                           SUM(CAST(n AS HUGEINT) * (cxp - p - r)) AS d
                    FROM g3),
              tx AS (SELECT SUM(CAST(cx AS HUGEINT) * (cx - 1)) AS tx2 FROM mx),
              ty AS (SELECT SUM(CAST(cy AS HUGEINT) * (cy - 1)) AS ty2 FROM my)
         SELECT n, CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
                CASE WHEN CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS DOUBLE) > 0
                      AND CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS DOUBLE) > 0
                     THEN ROUND(CAST(c - d AS DOUBLE) * 2 /
                                SQRT(CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS DOUBLE) *
                                     CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS DOUBLE)), 8)
                END AS tau_b,
                CASE WHEN CAST(c + d AS DOUBLE) > 0
                     THEN ROUND(CAST(c - d AS DOUBLE) / CAST(c + d AS DOUBLE), 8)
                END AS gamma
         FROM m CROSS JOIN tx CROSS JOIN ty""",

    // three doubled-rank maps off one histogram; per-value deviation
    // terms 4dp through decimal; the scipy-canonical W and df forms
    "q_brunner_munzel" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              h AS (SELECT v, CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY v),
              r AS (SELECT v, ca, cb,
                           COALESCE(SUM(ca + cb) OVER wp, 0) * 2 + (ca + cb) + 1 AS r2,
                           COALESCE(SUM(ca) OVER wp, 0) * 2 + ca + 1 AS r2a,
                           COALESCE(SUM(cb) OVER wp, 0) * 2 + cb + 1 AS r2b
                    FROM h
                    WINDOW wp AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                             SUM(CAST(ca AS HUGEINT) * r2) AS sra,
                             SUM(CAST(cb AS HUGEINT) * r2) AS srb
                      FROM r),
              d AS (SELECT r.*, na, nb,
                           CAST(sra AS DOUBLE) / na AS m2a, CAST(srb AS DOUBLE) / nb AS m2b
                    FROM r CROSS JOIN tot),
              terms AS (SELECT na, nb, m2a, m2b,
                               CAST(ROUND(ca * (r2 - r2a - m2a + (na + 1)) * (r2 - r2a - m2a + (na + 1)), 4) AS DECIMAL(38,4)) AS va,
                               CAST(ROUND(cb * (r2 - r2b - m2b + (nb + 1)) * (r2 - r2b - m2b + (nb + 1)), 4) AS DECIMAL(38,4)) AS vb
                        FROM d),
              m AS (SELECT na, nb, m2a, m2b, SUM(va) AS sva, SUM(vb) AS svb
                    FROM terms GROUP BY na, nb, m2a, m2b),
              e AS (SELECT na, nb, m2a, m2b,
                           CAST(na AS DOUBLE) * (CAST(sva AS DOUBLE) / (4.0 * (CAST(na AS DOUBLE) - 1.0))) AS ua,
                           CAST(nb AS DOUBLE) * (CAST(svb AS DOUBLE) / (4.0 * (CAST(nb AS DOUBLE) - 1.0))) AS ub
                    FROM m WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b,
                ROUND((m2b - (CAST(nb AS DOUBLE) + 1.0)) / (2.0 * CAST(na AS DOUBLE)), 6) AS p_hat,
                CASE WHEN na >= 2 AND nb >= 2 AND ua + ub > 0
                     THEN ROUND(CAST(na AS DOUBLE) * nb * ((m2b - m2a) / 2.0) /
                                ((CAST(na AS DOUBLE) + nb) * SQRT(ua + ub)), 6)
                END AS w_stat,
                CASE WHEN na >= 2 AND nb >= 2 AND ua + ub > 0
                     THEN ROUND((ua + ub) * (ua + ub) /
                                (ua * ua / (CAST(na AS DOUBLE) - 1.0)
                                 + ub * ub / (CAST(nb AS DOUBLE) - 1.0)), 6)
                END AS df
         FROM e""",

    // Cliff's delta off the mann-whitney doubled-rank histogram:
    // 2U/(na*nb) - 1 as a single division of exact integers
    "q_cliffs_delta" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              c AS (SELECT v, CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY v),
              r AS (SELECT ca, cb,
                           COALESCE(SUM(ca + cb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + (ca + cb) + 1 AS r2
                    FROM c),
              m AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                           SUM(CAST(ca AS HUGEINT) * r2) AS ra2
                    FROM r),
              e AS (SELECT na, nb,
                           ROUND(CAST(ra2 - CAST(na AS HUGEINT) * (na + 1) - CAST(na AS HUGEINT) * nb AS DOUBLE)
                                 / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 8) AS delta
                    FROM m WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b, delta AS cliffs_delta,
                CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
                     WHEN ABS(delta) < 0.33 THEN 'small'
                     WHEN ABS(delta) < 0.474 THEN 'medium'
                     ELSE 'large' END AS magnitude
         FROM e""",

    // Page's L: 2L = sum j*R2_j exact; classical no-ties moments for z.
    // Blocks = ship-days on the (day x line-position) cents-mean grid;
    // treatments unique per block by the GROUP BY, so COUNT(*) = k is
    // the full completeness contract (count AND distinct)
    "q_page_trend" ->
      """WITH base AS (SELECT date_trunc('day', l_shipdate) AS blk,
                               l_linenumber AS trt,
                               CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE)
                                 / COUNT(*) AS v
                        FROM lineitem
                        WHERE l_shipdate IS NOT NULL AND l_linenumber IS NOT NULL
                          AND l_quantity IS NOT NULL
                        GROUP BY 1, 2),
              kk AS (SELECT CAST(COUNT(DISTINCT trt) AS BIGINT) AS k FROM base),
              complete AS (SELECT b.* FROM base b CROSS JOIN kk
                           QUALIFY COUNT(*) OVER (PARTITION BY blk) = k),
              ranked AS (SELECT blk, trt, v,
                                (CAST(RANK() OVER (PARTITION BY blk ORDER BY v ASC) AS BIGINT) - 1) * 2
                                  + COUNT(*) OVER (PARTITION BY blk, v) + 1 AS r2
                         FROM complete),
              w AS (SELECT trt, CAST(ROW_NUMBER() OVER (ORDER BY trt ASC) AS BIGINT) AS j
                    FROM (SELECT DISTINCT trt FROM ranked)),
              byt AS (SELECT r.trt, CAST(SUM(r.r2) AS BIGINT) AS rr2,
                             CAST(COUNT(*) AS BIGINT) AS nb
                      FROM ranked r GROUP BY r.trt),
              m AS (SELECT SUM(CAST(j AS HUGEINT) * rr2) AS l2,
                           CAST(MAX(nb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
                    FROM byt JOIN w USING (trt)),
              e AS (SELECT n, k, CAST(l2 AS DOUBLE) AS l2d,
                           CAST(n AS DOUBLE) * k * (k + 1.0) * (k + 1.0) / 2.0 AS e2,
                           CAST(n AS DOUBLE) * k * k * (k + 1.0)
                             * (CAST(k AS DOUBLE) * k - 1.0) / 36.0 AS var4
                    FROM m WHERE n > 0 AND k > 1)
         SELECT n AS n_blocks, k, ROUND(l2d / 2.0, 1) AS l_stat,
                CASE WHEN var4 > 0 THEN ROUND((l2d - e2) / SQRT(var4), 6) END AS z,
                CASE WHEN l2d > e2 THEN 'increasing'
                     WHEN l2d < e2 THEN 'decreasing'
                     ELSE 'none' END AS direction
         FROM e""",

    // Friedman: within-day doubled mid-ranks (rank() + same-value
    // count), Q via the all-integer deviations identity, tie-corrected
    "q_friedman" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, event_type AS et,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
                        GROUP BY 1, 2),
              days AS (SELECT DISTINCT day FROM daily),
              types AS (SELECT DISTINCT et FROM daily),
              dense AS (SELECT days.day, types.et, COALESCE(daily.cnt, 0) AS cnt
                        FROM days CROSS JOIN types
                        LEFT JOIN daily ON daily.day = days.day AND daily.et = types.et),
              kk AS (SELECT CAST(COUNT(DISTINCT et) AS BIGINT) AS k FROM dense),
              ranked AS (SELECT day, et, cnt,
                                (CAST(RANK() OVER (PARTITION BY day ORDER BY CAST(cnt AS DOUBLE) ASC) AS BIGINT) - 1) * 2
                                  + COUNT(*) OVER (PARTITION BY day, cnt) + 1 AS r2
                         FROM dense),
              byt AS (SELECT et, CAST(SUM(r2) AS BIGINT) AS rr2, CAST(COUNT(*) AS BIGINT) AS nb
                      FROM ranked GROUP BY et),
              ties AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tiemass
                       FROM (SELECT day, cnt, CAST(COUNT(*) AS BIGINT) AS t FROM ranked GROUP BY 1, 2)),
              sb AS (SELECT nb, k,
                            SUM((CAST(rr2 AS HUGEINT) - CAST(nb AS HUGEINT) * (k + 1)) *
                                (CAST(rr2 AS HUGEINT) - CAST(nb AS HUGEINT) * (k + 1))) AS sd2
                     FROM byt CROSS JOIN kk GROUP BY nb, k)
         SELECT nb AS n_blocks, k,
                ROUND(3.0 * CAST(sd2 AS DOUBLE) / (CAST(nb AS DOUBLE) * k * (k + 1.0)), 6) AS q,
                CASE WHEN 1.0 - CAST(tiemass AS DOUBLE) /
                              (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0)) > 0
                     THEN ROUND(3.0 * CAST(sd2 AS DOUBLE) / (CAST(nb AS DOUBLE) * k * (k + 1.0)) /
                                (1.0 - CAST(tiemass AS DOUBLE) /
                                  (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0))), 6)
                END AS q_tie_adj
         FROM sb CROSS JOIN ties WHERE nb > 0 AND k > 1""",

    "q_welch_ttest" ->
      """WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS c,
                           (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS a
                    FROM events),
              f AS (SELECT a, c FROM e WHERE a IS NOT NULL AND c IS NOT NULL),
              m AS (SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           SUM(CASE WHEN a THEN CAST(c AS HUGEINT) ELSE 0 END) AS s_a,
                           SUM(CASE WHEN a THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q_a,
                           CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           SUM(CASE WHEN NOT a THEN CAST(c AS HUGEINT) ELSE 0 END) AS s_b,
                           SUM(CASE WHEN NOT a THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS q_b
                    FROM f),
              w AS (SELECT n_a, n_b,
                           CAST(s_a AS DOUBLE) / n_a / 100.0 AS ma,
                           CAST(s_b AS DOUBLE) / n_b / 100.0 AS mb,
                           (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
                             / (n_a - 1.0) / 10000.0 AS va,
                           (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
                             / (n_b - 1.0) / 10000.0 AS vb
                    FROM m),
              v AS (SELECT *, va / n_a + vb / n_b AS sesq FROM w)
         SELECT n_a, n_b,
                CASE WHEN n_a > 0 THEN ROUND(ma, 6) END AS mean_a,
                CASE WHEN n_b > 0 THEN ROUND(mb, 6) END AS mean_b,
                CASE WHEN n_a >= 2 AND n_b >= 2 THEN ROUND(ma - mb, 6) END AS diff,
                CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0.0 OR vb > 0.0)
                     THEN ROUND(sqrt(sesq), 6) END AS se,
                CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0.0 OR vb > 0.0)
                     THEN ROUND((ma - mb) / sqrt(sesq), 6) END AS t,
                CASE WHEN n_a >= 2 AND n_b >= 2 AND (va > 0.0 OR vb > 0.0)
                     THEN ROUND(sesq * sesq /
                       (va * va / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1.0))
                        + vb * vb / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1.0))), 6)
                END AS df_welch
         FROM v""",

    "q_two_proportion" ->
      """WITH e AS (SELECT (event_type = 'purchase') AS s,
                           (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS a
                    FROM events),
              m AS (SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(SUM(CASE WHEN a AND s THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
                           CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           CAST(SUM(CASE WHEN NOT a AND s THEN 1 ELSE 0 END) AS BIGINT) AS k_b
                    FROM e)
         SELECT n_a, k_a, n_b, k_b,
                ROUND(CAST(k_a AS DOUBLE) / n_a, 6) AS p_a,
                ROUND(CAST(k_b AS DOUBLE) / n_b, 6) AS p_b,
                ROUND((CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b)
                      / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                             * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
                             * (1.0 / n_a + 1.0 / n_b)), 6) AS z,
                ROUND((CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) - 1.96 *
                      sqrt(CAST(k_a AS DOUBLE) / n_a * (1.0 - CAST(k_a AS DOUBLE) / n_a) / n_a
                           + CAST(k_b AS DOUBLE) / n_b * (1.0 - CAST(k_b AS DOUBLE) / n_b) / n_b), 6) AS diff_lo,
                ROUND((CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) + 1.96 *
                      sqrt(CAST(k_a AS DOUBLE) / n_a * (1.0 - CAST(k_a AS DOUBLE) / n_a) / n_a
                           + CAST(k_b AS DOUBLE) / n_b * (1.0 - CAST(k_b AS DOUBLE) / n_b) / n_b), 6) AS diff_hi
         FROM m WHERE n_a > 0 AND n_b > 0""",

    // position self-join replays the kernel's window pairs; the PMI
    // chain mirrors the Spark operand order on exact integers
    "q_skipgram_pmi" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
                            generate_subscripts(string_split(text, ' '), 1) AS i
                     FROM documents WHERE text IS NOT NULL),
              prs AS (SELECT a.t || ' ' || b.t AS pr
                      FROM tk a JOIN tk b
                        ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 3),
              totp AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_pairs FROM prs),
              c2 AS (SELECT pr, CAST(COUNT(*) AS BIGINT) AS c2 FROM prs
                     GROUP BY pr HAVING COUNT(*) >= 10),
              c1 AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c1 FROM tk GROUP BY t),
              tott AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_toks FROM tk)
         SELECT c2.pr AS pair, c2.c2 AS pair_count,
                ROUND(LN(CAST(c2.c2 AS DOUBLE) * total_toks * total_toks /
                         (CAST(total_pairs AS DOUBLE) * ca.c1 * cb.c1)), 6) AS pmi
         FROM c2
         JOIN c1 ca ON ca.t = string_split(c2.pr, ' ')[1]
         JOIN c1 cb ON cb.t = string_split(c2.pr, ' ')[2]
         CROSS JOIN tott CROSS JOIN totp
         ORDER BY pmi DESC, pair ASC LIMIT 20""",

    "q_vocab_growth" ->
      """WITH toks AS (SELECT doc_id // 100 AS batch,
                              unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE text IS NOT NULL),
              np AS (SELECT fb AS batch, CAST(COUNT(*) AS BIGINT) AS n_new FROM (
                       SELECT w, MIN(batch) AS fb FROM toks GROUP BY w) GROUP BY fb),
              tp AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_tokens
                     FROM toks GROUP BY batch)
         SELECT tp.batch, tp.n_tokens, COALESCE(np.n_new, 0) AS n_new,
                CAST(SUM(COALESCE(np.n_new, 0)) OVER w AS BIGINT) AS cum_vocab,
                CAST(SUM(tp.n_tokens) OVER w AS BIGINT) AS cum_tokens
         FROM tp LEFT JOIN np USING (batch)
         WINDOW w AS (ORDER BY tp.batch ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY batch""",

    "q_qte_deciles" ->
      """WITH e AS (SELECT value,
                           CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0
                                THEN 'A' ELSE 'B' END AS arm
                    FROM events WHERE value IS NOT NULL),
              a AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qa
                    FROM e WHERE arm = 'A'),
              b AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qb
                    FROM e WHERE arm = 'B'),
              g AS (SELECT unnest(generate_series(1, 9)) AS i)
         SELECT CAST(i AS DOUBLE) / 10.0 AS p,
                ROUND(qa[i], 6) AS q_a, ROUND(qb[i], 6) AS q_b,
                ROUND(ROUND(qa[i], 6) - ROUND(qb[i], 6), 6) AS qte
         FROM g CROSS JOIN a CROSS JOIN b ORDER BY p""",

    // the q_cuped md5-arm + midpoint-split fixture; four conditional
    // cells in one pass, the DiD chain mirroring the Spark operand order
    "q_markov_attribution" -> markovAttributionOracle(50),

    // identical fp60-derived uniforms, identical 9dp Poisson-CDF
    // literals, identical decimal sums + 6dp replicate means + exact
    // order-statistic ranks with the 1e-9 ceil slack
    "q_bootstrap_ci" ->
      """WITH base AS (SELECT CAST(event_id AS VARCHAR) AS id,
                              CAST(value AS DOUBLE) AS y
                       FROM events
                       WHERE value IS NOT NULL AND event_id IS NOT NULL),
              f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                           ROUND(CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6)))
                                 AS DOUBLE) / COUNT(*), 6) AS mean
                    FROM base),
              hb AS (SELECT CAST(('0x' || substring(md5(id), 1, 15)) AS BIGINT)
                            % 1000000007 AS h,
                            CAST(CAST(ROUND(y, 6) AS DECIMAL(18,6)) * 1000000
                                 AS BIGINT) AS ym
                     FROM base),
              cn AS (SELECT r,
                            CAST(('0x' || substring(md5('bootA:' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)
                              % 1000000006 + 1 AS a,
                            CAST(('0x' || substring(md5('bootB:' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)
                              % 1000000007 AS b
                     FROM (SELECT unnest(generate_series(0, 39)) AS r)),
              kk AS (SELECT r, ym,
                            CASE WHEN u < 0.367879441 THEN 0
                                 WHEN u < 0.735758882 THEN 1
                                 WHEN u < 0.919698603 THEN 2
                                 WHEN u < 0.981011843 THEN 3
                                 WHEN u < 0.996340153 THEN 4
                                 ELSE 5 END AS k
                     FROM (SELECT cn.r, hb.ym,
                                  CAST((hb.h * cn.a + cn.b) % 1000000007 AS DOUBLE)
                                    / 1000000007 AS u
                           FROM hb CROSS JOIN cn)),
              reps AS (SELECT r,
                              ROUND(CAST(SUM(CAST(k AS BIGINT) * ym)
                                    AS DOUBLE) / 1000000 / SUM(k), 6) AS m
                       FROM kk GROUP BY r HAVING SUM(k) > 0),
              c AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM reps),
              rk AS (SELECT m, r, row_number() OVER (ORDER BY m, r) AS rk
                     FROM reps),
              sel AS (SELECT rk.m, rk.rk, c.cnt,
                             GREATEST(CAST(CEIL(0.025 * c.cnt - 0.000000001) AS BIGINT), 1) AS lo,
                             LEAST(CAST(CEIL(0.975 * c.cnt - 0.000000001) AS BIGINT), c.cnt) AS hi
                      FROM rk CROSS JOIN c)
         SELECT f.n_rows, f.mean, agg.n_replicates_used, agg.boot_lo,
                agg.boot_hi
         FROM f CROSS JOIN (SELECT MAX(cnt) AS n_replicates_used,
                                   MAX(CASE WHEN rk = lo THEN m END) AS boot_lo,
                                   MAX(CASE WHEN rk = hi THEN m END) AS boot_hi
                            FROM sel) agg""",

    // identical per-row weighted terms (y·n/nt, 6dp-rounded, decimal-
    // summed), identical overlap gate, one pinned double chain per output
    "q_ipw_ate" ->
      """WITH base AS (SELECT event_type AS s,
                              CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
                              CAST(value AS DOUBLE) AS y
                       FROM events
                       WHERE value IS NOT NULL AND event_type IS NOT NULL),
              st AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
                            CAST(SUM(t) AS BIGINT) AS nt
                     FROM base GROUP BY s),
              j AS (SELECT b.t, b.y, st.n, st.nt,
                           (st.nt > 0 AND st.nt < st.n) AS ov, b.s
                    FROM base b JOIN st USING (s))
         SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                CAST(SUM(CASE WHEN ov THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
                CAST(COUNT(DISTINCT s) AS BIGINT) AS n_strata,
                CAST(COUNT(DISTINCT CASE WHEN NOT ov THEN s END) AS BIGINT)
                  AS n_nonoverlap_strata,
                ROUND((CAST(SUM(CASE WHEN ov AND t = 1
                         THEN CAST(ROUND(y * n / nt, 6) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                     - CAST(SUM(CASE WHEN ov AND t = 0
                         THEN CAST(ROUND(y * n / (n - nt), 6) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE))
                     / SUM(CASE WHEN ov THEN 1 ELSE 0 END), 6) AS ate_ipw,
                ROUND(CAST(SUM(CASE WHEN ov AND t = 1
                         THEN CAST(ROUND(y * n / nt, 6) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                     / CAST(SUM(CASE WHEN ov AND t = 1
                         THEN CAST(ROUND(CAST(n AS DOUBLE) / nt, 6) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                     - CAST(SUM(CASE WHEN ov AND t = 0
                         THEN CAST(ROUND(y * n / (n - nt), 6) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
                     / CAST(SUM(CASE WHEN ov AND t = 0
                         THEN CAST(ROUND(CAST(n AS DOUBLE) / (n - nt), 6) AS DECIMAL(28,6))
                         ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE), 6)
                  AS ate_hajek
         FROM j""",

    "q_did_readout" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
              mid AS (SELECT CAST(floor((MIN(tsec) + MAX(tsec)) / 2.0) AS BIGINT) AS m FROM e),
              tg AS (SELECT (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS a,
                            (tsec >= m) AS post, c
                     FROM e CROSS JOIN mid),
              agg AS (SELECT
                        CAST(SUM(CASE WHEN a AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_a_pre,
                        CAST(SUM(CASE WHEN a AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_a_post,
                        CAST(SUM(CASE WHEN NOT a AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_b_pre,
                        CAST(SUM(CASE WHEN NOT a AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_b_post,
                        CAST(SUM(CASE WHEN a AND NOT post THEN c ELSE 0 END) AS BIGINT) AS sap,
                        CAST(SUM(CASE WHEN a AND post THEN c ELSE 0 END) AS BIGINT) AS saq,
                        CAST(SUM(CASE WHEN NOT a AND NOT post THEN c ELSE 0 END) AS BIGINT) AS sbp,
                        CAST(SUM(CASE WHEN NOT a AND post THEN c ELSE 0 END) AS BIGINT) AS sbq
                      FROM tg)
         SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
                ROUND(CAST(sap AS DOUBLE) / n_a_pre / 100.0, 6) AS mean_a_pre,
                ROUND(CAST(saq AS DOUBLE) / n_a_post / 100.0, 6) AS mean_a_post,
                ROUND(CAST(sbp AS DOUBLE) / n_b_pre / 100.0, 6) AS mean_b_pre,
                ROUND(CAST(sbq AS DOUBLE) / n_b_post / 100.0, 6) AS mean_b_post,
                ROUND((CAST(saq AS DOUBLE) / n_a_post / 100.0
                       - CAST(sap AS DOUBLE) / n_a_pre / 100.0)
                      - (CAST(sbq AS DOUBLE) / n_b_post / 100.0
                         - CAST(sbp AS DOUBLE) / n_b_pre / 100.0), 6) AS did
         FROM agg
         WHERE n_a_pre > 0 AND n_a_post > 0 AND n_b_pre > 0 AND n_b_post > 0""",

    "q_monotonic_audit" ->
      """WITH s AS (SELECT l_orderkey,
                           (l_shipdate < lag(l_shipdate, 1) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber ASC, l_shipdate ASC)) AS back
                    FROM lineitem WHERE l_shipdate IS NOT NULL),
              g AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_steps,
                           CAST(SUM(CASE WHEN back THEN 1 ELSE 0 END) AS BIGINT) AS n_backward
                    FROM s WHERE back IS NOT NULL GROUP BY l_orderkey)
         SELECT l_orderkey, n_steps, n_backward,
                ROUND(CAST(n_backward AS DOUBLE) / n_steps, 6) AS backward_pct
         FROM g WHERE n_backward > 0
         ORDER BY backward_pct DESC, l_orderkey ASC LIMIT 25""",

    // dow labels differ across engines (Sunday = 1 vs 0) but dow is
    // only a grouping key — the partition is identical
    "q_seasonality_strength" ->
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
              dw AS (SELECT dayofweek(day) AS dow, n FROM daily),
              cells AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS k,
                               SUM(CAST(n AS HUGEINT)) AS s,
                               SUM(CAST(n AS HUGEINT) * n) AS ss
                        FROM dw GROUP BY dow),
              tot AS (SELECT CAST(SUM(k) AS BIGINT) AS n_days,
                             SUM(s) AS st, SUM(ss) AS sst FROM cells),
              bg AS (SELECT n_days, st, sst,
                            SUM(CAST(ROUND(CAST(s * s AS DOUBLE) / k, 8) AS DECIMAL(28,8))) AS b
                     FROM cells CROSS JOIN tot GROUP BY n_days, st, sst)
         SELECT n_days,
                ROUND((CAST(b AS DOUBLE) - CAST(st * st AS DOUBLE) / n_days) /
                      (CAST(sst AS DOUBLE) - CAST(st * st AS DOUBLE) / n_days), 6) AS eta_sq
         FROM bg""",

    "q_mase" ->
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
              l AS (SELECT day, n,
                           lag(n, 7) OVER (ORDER BY day ASC) AS s,
                           lag(n, 1) OVER (ORDER BY day ASC) AS p
                    FROM daily),
              f AS (SELECT * FROM l WHERE s IS NOT NULL AND p IS NOT NULL),
              a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                           CAST(SUM(ABS(n - s)) AS BIGINT) AS es,
                           CAST(SUM(ABS(n - p)) AS BIGINT) AS ep FROM f)
         SELECT n_days,
                ROUND(CAST(es AS DOUBLE) / n_days, 6) AS mae_seasonal,
                ROUND(CAST(ep AS DOUBLE) / n_days, 6) AS mae_naive,
                CASE WHEN ep > 0 THEN ROUND(CAST(es AS DOUBLE) / ep, 6) END AS mase
         FROM a""",

    // directed best = one window argmax per side; survivors are pairs
    // whose two directions agree
    "q_mutual_best_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
              blk AS (SELECT p_name, string_split(p_name, ' ')[1] AS b FROM names),
              pairs AS (SELECT a.p_name AS na, b.p_name AS nb,
                               ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
                        FROM blk a JOIN blk b ON a.b = b.b AND a.p_name < b.p_name
                        WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.85),
              directed AS (SELECT na AS x, nb AS y, jw FROM pairs
                           UNION ALL SELECT nb, na, jw FROM pairs),
              best AS (SELECT x, y AS besty FROM (
                         SELECT x, y,
                                row_number() OVER (PARTITION BY x ORDER BY jw DESC, y ASC) AS rn
                         FROM directed) WHERE rn = 1)
         SELECT p.na AS name_a, p.nb AS name_b, p.jw AS jw
         FROM pairs p
         JOIN best b1 ON b1.x = p.na AND b1.besty = p.nb
         JOIN best b2 ON b2.x = p.nb AND b2.besty = p.na
         ORDER BY name_a, name_b""",

    // the md5 fingerprint idiom of q_cuped's arm assignment, keyed per
    // epoch — the permutation is a pure function of (doc_id, epoch)
    "q_epoch_shuffle" ->
      """WITH e1 AS (SELECT CAST(1 AS BIGINT) AS epoch, doc_id,
                            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epoch:1'), 1, 15)) AS BIGINT) AS shuffle_key
                     FROM documents ORDER BY shuffle_key ASC, doc_id ASC LIMIT 50),
              e2 AS (SELECT CAST(2 AS BIGINT) AS epoch, doc_id,
                            CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':epoch:2'), 1, 15)) AS BIGINT) AS shuffle_key
                     FROM documents ORDER BY shuffle_key ASC, doc_id ASC LIMIT 50)
         SELECT epoch, doc_id, shuffle_key
         FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
         ORDER BY epoch, shuffle_key, doc_id""",

    // bottom-k mass = cumValue(v-) + (k - cumCount(v-))·v — exact
    // integer interpolation inside the tied-value block holding k
    "q_lorenz" ->
      """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
              cum AS (SELECT v, c,
                             COALESCE(SUM(c) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ccp,
                             COALESCE(SUM(CAST(c AS HUGEINT) * v) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cvp
                      FROM c),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, SUM(CAST(c AS HUGEINT) * v) AS tv FROM c),
              grid AS (SELECT CAST(range + 1 AS BIGINT) AS decile FROM range(10)),
              hit AS (SELECT decile, (decile * n) // 10 AS k, v, c, ccp, cvp, n, tv
                      FROM cum CROSS JOIN tot CROSS JOIN grid
                      WHERE ccp < (decile * n) // 10 AND (decile * n) // 10 <= ccp + c)
         SELECT decile,
                ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pop_share,
                CASE WHEN tv = 0 THEN NULL
                     ELSE ROUND(CAST(cvp + CAST(k - ccp AS HUGEINT) * v AS DOUBLE) /
                                CAST(tv AS DOUBLE), 6) END AS value_share
         FROM hit ORDER BY decile""",

    "q_burstiness" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id
                    FROM events WHERE ts IS NOT NULL),
              g AS (SELECT user_id,
                           LEAD(tsec) OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) - tsec AS g
                    FROM e),
              f AS (SELECT user_id, CAST(g AS HUGEINT) AS g FROM g WHERE g IS NOT NULL),
              m AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
                           SUM(g) AS sg, SUM(g * g) AS sgg
                    FROM f GROUP BY user_id HAVING COUNT(*) >= 2),
              s AS (SELECT user_id, n_gaps,
                           CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
                           SQRT(GREATEST(CAST(sgg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                                         - (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                                           * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0)) AS sigma
                    FROM m)
         SELECT user_id, n_gaps, ROUND(mu, 6) AS mean_gap,
                CASE WHEN sigma + mu > 0 THEN ROUND((sigma - mu) / (sigma + mu), 6) END AS burstiness
         FROM s ORDER BY user_id""",

    "q_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
              s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
                     JOIN s1 ON e.user_id = s1.user_id
                     WHERE e.event_type = 'click' AND e.ts > s1.t1
                     GROUP BY e.user_id),
              s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
                     JOIN s2 ON e.user_id = s2.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                     GROUP BY e.user_id),
              g AS (SELECT CAST(floor(epoch(s2.t2)) AS BIGINT) - CAST(floor(epoch(s1.t1)) AS BIGINT) AS g12,
                           CAST(floor(epoch(s3.t3)) AS BIGINT) - CAST(floor(epoch(s2.t2)) AS BIGINT) AS g23
                    FROM s2 JOIN s1 ON s2.user_id = s1.user_id
                    LEFT JOIN s3 ON s2.user_id = s3.user_id)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_click,
                ROUND(quantile_cont(g12, 0.5), 4) AS p50_view_click,
                ROUND(quantile_cont(g12, 0.9), 4) AS p90_view_click,
                CAST(COUNT(g23) AS BIGINT) AS n_purchase,
                ROUND(quantile_cont(g23, 0.5), 4) AS p50_click_purchase,
                ROUND(quantile_cont(g23, 0.9), 4) AS p90_click_purchase
         FROM g""",

    "q_odds_ratio" ->
      """WITH f AS (SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS e,
                           (o_orderstatus = 'F') AS o
                    FROM orders
                    WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
              c AS (SELECT CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
                           CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
                           CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
                           CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
                    FROM f)
         SELECT a, b, c, d,
                CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                     THEN ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6) END AS odds_ratio,
                CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                     THEN ROUND(EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                                    - 1.96 * SQRT(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6) END AS or_lo,
                CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                     THEN ROUND(EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                                    + 1.96 * SQRT(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6) END AS or_hi,
                CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                     THEN ROUND((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)), 6) END AS relative_risk
         FROM c""",

    "q_ece" ->
      """WITH f AS (SELECT ROUND(1.0 / (1.0 + EXP(-((value - 50.0) / 25.0))), 6) AS p,
                           (event_type = 'purchase') AS y
                    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
              b AS (SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
                           CAST(ROUND(p, 8) AS DECIMAL(28,8)) AS pp,
                           CASE WHEN y THEN 1 ELSE 0 END AS yy
                    FROM f),
              g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, SUM(pp) AS sp,
                           CAST(SUM(yy) AS BIGINT) AS pos
                    FROM b GROUP BY bin),
              o AS (SELECT bin, n,
                           ROUND(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_pred,
                           ROUND(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos
                    FROM g),
              gaps AS (SELECT n, ROUND(mean_pred - frac_pos, 6) AS gap FROM o)
         SELECT CAST(SUM(n) AS BIGINT) AS n,
                ROUND(CAST(SUM(CAST(n AS DECIMAL(12,0)) * CAST(ABS(gap) AS DECIMAL(8,6))) AS DOUBLE)
                      / CAST(SUM(n) AS DOUBLE), 6) AS ece
         FROM gaps""",

    // ln() never sees the everyone-dies zero factor (CASE guards inside
    // the window) and the absorbing MIN(factor)=0 forces survival 0
    "q_kaplan_meier" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f, MAX(date_trunc('day', ts)) AS l
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              mx AS (SELECT MAX(l) AS maxd FROM u),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
                               (datediff('day', CAST(l AS DATE), CAST(maxd AS DATE)) >= 7) AS ev
                        FROM u CROSS JOIN mx),
              c AS (SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                           CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
                    FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS n FROM c),
              r AS (SELECT t, n_events, n_censored,
                           n - COALESCE(SUM(n_events + n_censored)
                                 OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM c CROSS JOIN tot),
              f AS (SELECT t, n_risk, n_events, n_censored,
                           ROUND(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 8) AS fac
                    FROM r),
              s AS (SELECT t, n_risk, n_events, n_censored,
                           MIN(fac) OVER wc AS minf,
                           SUM(ROUND(LN(CASE WHEN fac > 0 THEN fac ELSE 1 END), 8)) OVER wc AS lnsum
                    FROM f
                    WINDOW wc AS (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t, CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
                CASE WHEN minf = 0 THEN 0.0 ELSE ROUND(EXP(lnsum), 6) END AS survival
         FROM s ORDER BY t""",

    "q_cohort_ltv" ->
      """WITH coh AS (SELECT user_id, MIN(date_trunc('day', ts)) AS cohort
                      FROM events WHERE ts IS NOT NULL GROUP BY 1),
              sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM coh GROUP BY 1),
              rev AS (SELECT c.cohort,
                             CAST(datediff('day', CAST(c.cohort AS DATE),
                                           CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT) AS age,
                             SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS r
                      FROM events e JOIN coh c ON e.user_id = c.user_id
                      WHERE e.ts IS NOT NULL AND e.value IS NOT NULL
                      GROUP BY 1, 2),
              cum AS (SELECT cohort, age,
                             SUM(r) OVER (PARTITION BY cohort ORDER BY age ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr
                      FROM rev)
         SELECT cum.cohort AS cohort, age, cohort_users,
                ROUND(CAST(cr AS DOUBLE) / CAST(cohort_users AS DOUBLE) / 100.0, 6) AS ltv_per_user
         FROM cum JOIN sizes ON cum.cohort = sizes.cohort
         ORDER BY cum.cohort, age""",

    "q_chi_residuals" ->
      """WITH obs AS (SELECT o_orderpriority AS a, o_orderstatus AS b, CAST(COUNT(*) AS BIGINT) AS o
                      FROM orders
                      WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                      GROUP BY 1, 2),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
              cells AS (SELECT ra.a, rb.b, ra.ra, rb.rb, COALESCE(obs.o, 0) AS o
                        FROM ra CROSS JOIN rb
                        LEFT JOIN obs ON obs.a = ra.a AND obs.b = rb.b)
         SELECT a AS o_orderpriority, b AS o_orderstatus, o,
                ROUND(CAST(ra AS DOUBLE) * rb / n, 4) AS expected,
                ROUND((o - CAST(ra AS DOUBLE) * rb / n) /
                      SQRT(CAST(ra AS DOUBLE) * rb / n), 4) AS std_residual
         FROM cells CROSS JOIN tot
         ORDER BY o_orderpriority, o_orderstatus""",

    "q_skew_report" ->
      """WITH c AS (SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS c
                    FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
              top AS (SELECT k AS top_key FROM c ORDER BY c DESC, k ASC LIMIT 1),
              s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
                           quantile_cont(c, 0.5) AS med, quantile_cont(c, 0.99) AS p99,
                           CAST(MAX(c) AS BIGINT) AS max_count
                    FROM c)
         SELECT n_keys, n_rows,
                ROUND(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 4) AS mean_count,
                ROUND(med, 4) AS median_count, ROUND(p99, 4) AS p99_count,
                max_count,
                ROUND(CAST(max_count AS DOUBLE) /
                      (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 4) AS skew_ratio,
                top_key
         FROM s CROSS JOIN top""",

    // theta rounds to 8dp BEFORE the adjustment multiplies it — both
    // engines then walk the identical double path; moments in HUGEINT
    "q_cuped" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
              mid AS (SELECT CAST(floor((MIN(tsec) + MAX(tsec)) / 2.0) AS BIGINT) AS m FROM e),
              u AS (SELECT user_id,
                           CAST(SUM(CASE WHEN tsec < m THEN c ELSE 0 END) AS DOUBLE) / 100.0 AS pre,
                           CAST(SUM(CASE WHEN tsec >= m THEN c ELSE 0 END) AS DOUBLE) / 100.0 AS post
                    FROM e CROSS JOIN mid GROUP BY user_id),
              ua AS (SELECT CASE WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0
                                 THEN 'A' ELSE 'B' END AS arm,
                            CAST(CAST(pre AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
                            CAST(CAST(post AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
                     FROM u),
              pooled AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                                SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                                SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                                SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                                SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
                         FROM ua),
              arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_units,
                              SUM(CAST(x AS HUGEINT)) AS ax, SUM(CAST(y AS HUGEINT)) AS ay
                       FROM ua GROUP BY arm),
              dd AS (SELECT arm, n_units, ax, ay, n, sx,
                            n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
                            n * sxy - sx * sy AS num
                     FROM arms CROSS JOIN pooled)
         SELECT arm, n_units,
                ROUND(CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE) / 100.0, 6) AS mean_post,
                CASE WHEN dx > 0
                     THEN ROUND((CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)
                                 - ROUND(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE), 8)
                                   * (CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE)
                                      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6)
                     ELSE ROUND(CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE) / 100.0, 6) END AS mean_adj,
                CASE WHEN dx > 0
                     THEN ROUND(CAST(num AS DOUBLE) / CAST(dx AS DOUBLE), 8) END AS theta,
                CASE WHEN dx > 0 AND dy > 0
                     THEN ROUND(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
                                (CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) END AS var_reduction
         FROM dd ORDER BY arm""",

    "q_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                       FROM events WHERE ts IS NOT NULL),
              idx AS (SELECT user_id, d,
                             CAST(datediff('day', DATE '1970-01-01', CAST(d AS DATE)) AS BIGINT) AS i
                      FROM days),
              runs AS (SELECT user_id, d, i,
                              i - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY i ASC) AS r
                       FROM idx),
              rr AS (SELECT user_id, r, CAST(COUNT(*) AS BIGINT) AS len, MIN(d) AS start
                     FROM runs GROUP BY 1, 2),
              pk AS (SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
                            CAST(MAX(len) AS BIGINT) AS longest_streak
                     FROM rr GROUP BY 1)
         SELECT pk.user_id, n_active_days, longest_streak, MIN(rr.start) AS streak_start
         FROM pk JOIN rr ON pk.user_id = rr.user_id AND rr.len = pk.longest_streak
         GROUP BY 1, 2, 3 ORDER BY pk.user_id""",

    // brute force over the 64-name dictionary with the same length
    // gate — the prefix filter is Spark-internal (exact verification
    // makes candidates invisible in the output)
    "q_edit_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
         SELECT a.s AS s1, b.s AS s2,
                CAST(levenshtein(a.s, b.s) AS BIGINT) AS ed
         FROM n a JOIN n b
           ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 2
         WHERE levenshtein(a.s, b.s) <= 2
         ORDER BY s1, s2""",

    "q_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_type,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id
                    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
              p AS (SELECT event_type AS from_state,
                           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) AS to_state
                    FROM e),
              c AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
                    FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2),
              t AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
         SELECT c.from_state, c.to_state, c.n,
                ROUND(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS p
         FROM c JOIN t USING (from_state) ORDER BY from_state, to_state""",

    "q_top_paths" ->
      """WITH e AS (SELECT user_id, event_type,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_id
                    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
              j AS (SELECT user_id, string_agg(event_type, '>' ORDER BY tsec ASC, event_id ASC) AS path
                    FROM e GROUP BY user_id)
         SELECT path, CAST(COUNT(*) AS BIGINT) AS n
         FROM j GROUP BY path ORDER BY n DESC, path ASC LIMIT 15""",

    // half-open [s, e): both deltas land on the boundary before the
    // count is read, so back-to-back sessions never double-count
    "q_peak_concurrency" ->
      """WITH iv AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS s,
                            CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
                     FROM events WHERE ts IS NOT NULL),
              d AS (SELECT s AS t, CAST(1 AS BIGINT) AS delta FROM iv
                    UNION ALL
                    SELECT e AS t, CAST(-1 AS BIGINT) AS delta FROM iv),
              g AS (SELECT t, CAST(SUM(delta) AS BIGINT) AS delta FROM d GROUP BY t),
              c AS (SELECT t, SUM(delta) OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
                    FROM g)
         SELECT t AS at_sec, CAST(conc AS BIGINT) AS peak
         FROM c ORDER BY conc DESC, t ASC LIMIT 1""",

    "q_kanon_export" ->
      """WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
                        FROM documents GROUP BY lang, source)
         SELECT lang,
                CASE WHEN n < 5 THEN '__suppressed' ELSE source END AS source,
                CAST(SUM(n) AS BIGINT) AS n_docs
         FROM cells GROUP BY 1, 2 ORDER BY lang, source""",

    "q_curation_pipeline" ->
      """WITH f AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS avg_token_len,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> x = '#' OR contains(x, '...'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS symbol_ratio,
                ROUND(CAST(len(list_filter(string_split(text, ' '),
                      x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(string_split(text, ' ')), 4) AS alpha_ratio,
                CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'and', 'of'))) AS BIGINT) AS n_stop_hits
                     FROM documents WHERE text IS NOT NULL),
              gated AS (SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
                        FROM documents d JOIN f ON f.doc_id = d.doc_id
                        WHERE (f.n_tokens BETWEEN 20 AND 80)
                          AND (f.avg_token_len >= 3.0 AND f.avg_token_len <= 10.0)
                          AND (f.symbol_ratio <= 0.1)
                          AND (f.alpha_ratio >= 0.8)
                          AND (f.n_stop_hits >= 2)),
              keepmin AS (SELECT MIN(doc_id) AS doc_id
                          FROM (SELECT doc_id,
                                       md5(trim(regexp_replace(lower(nfc_normalize(text)),
                                         '\s+', ' ', 'g'))) AS fp
                                FROM gated)
                          GROUP BY fp),
              dedup AS (SELECT g.* FROM gated g JOIN keepmin USING (doc_id)),
              ev AS (SELECT DISTINCT
                            CAST(('0x' || substring(md5(array_to_string(t[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
                     FROM (SELECT string_split(text, ' ') AS t FROM documents
                           WHERE doc_id < 20 AND text IS NOT NULL),
                          (SELECT unnest(generate_series(1, 4000)) AS j)
                     WHERE j <= greatest(len(t) - 2, 1)),
              cg AS (SELECT doc_id,
                            CAST(('0x' || substring(md5(array_to_string(t[j:j+2], ' ')), 1, 15)) AS BIGINT) AS sh
                     FROM (SELECT doc_id, string_split(text, ' ') AS t FROM dedup
                           WHERE doc_id >= 20 AND text IS NOT NULL),
                          (SELECT unnest(generate_series(1, 4000)) AS j)
                     WHERE j <= greatest(len(t) - 2, 1)),
              bad AS (SELECT DISTINCT doc_id FROM cg JOIN ev USING (sh))
         SELECT doc_id, lang, source, n_chars FROM dedup
         WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",

    "q_decayed_activity" ->
      """WITH r AS (SELECT MAX(ts) AS ref FROM events),
              w AS (SELECT user_id,
                           CAST(ROUND(exp(-(CAST(date_diff('second', ts, r.ref) AS DOUBLE) / 86400.0) * ln(2) / 7.0), 6) AS DECIMAL(28,6)) AS w
                    FROM events CROSS JOIN r)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                CAST(SUM(w) AS DOUBLE) AS decayed_score
         FROM w GROUP BY user_id ORDER BY user_id""",

    "q_category_pmi" ->
      """WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
              cx AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cx
                     FROM documents GROUP BY lang),
              cy AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cy
                     FROM documents GROUP BY source),
              cxy AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS cxy
                      FROM documents GROUP BY lang, source)
         SELECT cxy.lang, cxy.source, cxy.cxy AS n_docs,
                ROUND(ln(CAST(cxy.cxy * n.n AS DOUBLE)
                         / CAST(cx.cx * cy.cy AS DOUBLE)), 6) AS pmi
         FROM cxy JOIN cx USING (lang) JOIN cy USING (source) CROSS JOIN n
         ORDER BY cxy.lang, cxy.source""",

    "q_join_preflight" ->
      """WITH cl AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cl
                     FROM orders GROUP BY 1),
              cr AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cr
                     FROM lineitem GROUP BY 1),
              lt AS (SELECT CAST(SUM(cl) AS BIGINT) AS left_rows,
                            CAST(COUNT(*) AS BIGINT) AS left_keys FROM cl),
              rt AS (SELECT CAST(SUM(cr) AS BIGINT) AS right_rows,
                            CAST(COUNT(*) AS BIGINT) AS right_keys FROM cr),
              mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS matched_keys,
                            CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) AS est_join_rows,
                            CAST(COALESCE(MAX(cl * cr), 0) AS BIGINT) AS max_key_fanout
                     FROM cl JOIN cr USING (k))
         SELECT lt.left_rows, lt.left_keys, rt.right_rows, rt.right_keys,
                mt.matched_keys, mt.est_join_rows, mt.max_key_fanout
         FROM lt CROSS JOIN rt CROSS JOIN mt""",

    "q_cluster_split" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              sp AS (SELECT doc_id,
                            CASE WHEN bucket < 80 THEN 'train'
                                 WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
                     FROM (SELECT documents.doc_id,
                                  CAST(('0x' || substring(md5(CAST(COALESCE(l3.label, documents.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
                           FROM documents LEFT JOIN l3 ON l3.id = documents.doc_id) d),
              leaked AS (SELECT s1.split, CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
                         FROM e0 JOIN sp s1 ON s1.doc_id = e0.id1
                              JOIN sp s2 ON s2.doc_id = e0.id2
                         WHERE s1.split <> s2.split GROUP BY s1.split)
         SELECT sp.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COALESCE(MIN(leaked.n_leaked_pairs), 0) AS BIGINT) AS n_leaked_pairs
         FROM sp LEFT JOIN leaked USING (split)
         GROUP BY sp.split ORDER BY sp.split""",

    "q_split_leakage" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id),
              pairs AS (SELECT c.id1, c.id2,
                               ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) AS jaccard
                        FROM cands c
                        JOIN common cm ON cm.id1 = c.id1 AND cm.id2 = c.id2
                        JOIN sizes s1 ON s1.id = c.id1
                        JOIN sizes s2 ON s2.id = c.id2
                        WHERE ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) >= 0.9),
              sp AS (SELECT doc_id,
                            CASE WHEN bucket < 80 THEN 'train'
                                 WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
                     FROM (SELECT doc_id,
                                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
                           FROM documents))
         SELECT p.id1, p.id2, s1.split AS split1, s2.split AS split2, p.jaccard
         FROM pairs p
         JOIN sp s1 ON s1.doc_id = p.id1
         JOIN sp s2 ON s2.doc_id = p.id2
         WHERE s1.split <> s2.split
         ORDER BY p.id1, p.id2""",

    "q_minhash_topk" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS query_id, b.id AS neighbor_id
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key
                             AND a.id <> b.id
                        WHERE a.id < 100),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              common AS (SELECT a.id AS i1, b.id AS i2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id),
              scored AS (SELECT c.query_id, c.neighbor_id,
                                CAST(COALESCE(cm.c, 0) AS DOUBLE)
                                / (s1.sz + s2.sz - COALESCE(cm.c, 0)) AS raw
                         FROM cands c
                         LEFT JOIN common cm
                           ON cm.i1 = least(c.query_id, c.neighbor_id)
                          AND cm.i2 = greatest(c.query_id, c.neighbor_id)
                         JOIN sizes s1 ON s1.id = c.query_id
                         JOIN sizes s2 ON s2.id = c.neighbor_id),
              rk AS (SELECT query_id, neighbor_id, raw,
                            CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY raw DESC, neighbor_id ASC) AS INT) AS rank
                     FROM scored)
         SELECT query_id, neighbor_id, ROUND(raw, 4) AS jaccard, rank
         FROM rk WHERE rank <= 5
         ORDER BY query_id, rank""",

    "q_minhash_lsh_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              sh AS (SELECT DISTINCT doc_id AS id,
                            CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                     FROM grams),
              seeds AS (SELECT unnest(generate_series(0, 15)) AS i),
              sigs AS (SELECT id, i,
                              MIN(CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(sh AS VARCHAR)), 1, 15)) AS BIGINT)) AS minhash
                       FROM sh, seeds GROUP BY id, i),
              banded AS (SELECT id, CAST(i // 4 AS INT) AS band,
                                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY i)) AS band_key
                         FROM sigs GROUP BY id, CAST(i // 4 AS INT)),
              bandedk AS (SELECT bd.id, bd.band, bd.band_key FROM banded bd
                          JOIN (SELECT band, band_key, COUNT(*) AS df
                                FROM banded GROUP BY band, band_key) d
                            ON d.band = bd.band AND d.band_key = bd.band_key
                          WHERE d.df <= 50),
              cands AS (SELECT DISTINCT a.id AS id1, b.id AS id2
                        FROM bandedk a JOIN bandedk b
                          ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
              sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY id),
              common AS (SELECT a.id AS id1, b.id AS id2, CAST(COUNT(*) AS BIGINT) AS c
                         FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
                         GROUP BY a.id, b.id)
         SELECT c.id1, c.id2,
                ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) AS jaccard
         FROM cands c
         JOIN common cm ON cm.id1 = c.id1 AND cm.id2 = c.id2
         JOIN sizes s1 ON s1.id = c.id1
         JOIN sizes s2 ON s2.id = c.id2
         WHERE ROUND(CAST(cm.c AS DOUBLE) / (s1.sz + s2.sz - cm.c), 4) >= 0.4
         ORDER BY 1, 2""",

    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
              pairs AS (SELECT q.qid, c.vec_id AS cid, q.qe, c.embedding AS ce
                        FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.qid),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT qid, cid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
                       FROM pairs, idx GROUP BY qid, cid),
              scored AS (SELECT qid AS query_id, cid AS neighbor_id,
                                ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) AS score
                         FROM dots),
              ranked AS (SELECT query_id, neighbor_id, score,
                                CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rank
                         FROM scored)
         SELECT query_id, neighbor_id, score, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q_hybrid_rrf" ->
      """WITH corpus AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
                  CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
           FROM documents WHERE text IS NOT NULL),
         stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
                   FROM corpus),
         postings AS (SELECT doc_id, dl, unnest(toks) AS term FROM corpus),
         tf AS (SELECT doc_id, dl,
                       SUM(CASE WHEN term = 'dup'  THEN 1 ELSE 0 END) AS tf_0,
                       SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS tf_1,
                       SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS tf_2
                FROM postings WHERE term IN ('dup', 'join', 'hash')
                GROUP BY doc_id, dl),
         dfs AS (SELECT COUNT(DISTINCT CASE WHEN term = 'dup'  THEN doc_id END) AS df_0,
                        COUNT(DISTINCT CASE WHEN term = 'join' THEN doc_id END) AS df_1,
                        COUNT(DISTINCT CASE WHEN term = 'hash' THEN doc_id END) AS df_2
                 FROM postings WHERE term IN ('dup', 'join', 'hash')),
         scored AS (
           SELECT doc_id, ROUND(0.0
             + CASE WHEN CAST(tf_0 AS DOUBLE) > 0 THEN
                 ln(1.0 + (n_docs - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
                 * CAST(tf_0 AS DOUBLE) * 2.2
                 / (CAST(tf_0 AS DOUBLE) + (0.25 + (dl / avgdl) * 0.75) * 1.2)
               ELSE 0.0 END
             + CASE WHEN CAST(tf_1 AS DOUBLE) > 0 THEN
                 ln(1.0 + (n_docs - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
                 * CAST(tf_1 AS DOUBLE) * 2.2
                 / (CAST(tf_1 AS DOUBLE) + (0.25 + (dl / avgdl) * 0.75) * 1.2)
               ELSE 0.0 END
             + CASE WHEN CAST(tf_2 AS DOUBLE) > 0 THEN
                 ln(1.0 + (n_docs - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
                 * CAST(tf_2 AS DOUBLE) * 2.2
                 / (CAST(tf_2 AS DOUBLE) + (0.25 + (dl / avgdl) * 0.75) * 1.2)
               ELSE 0.0 END, 6) AS bm25
           FROM tf CROSS JOIN dfs CROSS JOIN stats),
         lex AS (SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS rank
                 FROM (SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
                       ORDER BY bm25 DESC, doc_id ASC LIMIT 20)),
         q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id = 3),
         pairs AS (SELECT q.qid, c.vec_id AS cid, q.qe, c.embedding AS ce
                   FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.qid),
         idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         dots AS (SELECT qid, cid,
                         SUM(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
                         SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                         SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
                  FROM pairs, idx GROUP BY qid, cid),
         semranked AS (SELECT cid AS doc_id,
                              CAST(row_number() OVER (ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, cid ASC) AS BIGINT) AS rank
                       FROM dots),
         sem AS (SELECT doc_id, rank FROM semranked WHERE rank <= 20),
         unioned AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
         fused AS (SELECT doc_id,
                          ROUND(CAST(SUM(CAST(1.0 / (60 + rank) AS DECIMAL(28,14))) AS DOUBLE), 6) AS rrf_score,
                          CAST(COUNT(*) AS BIGINT) AS n_lists
                   FROM unioned GROUP BY doc_id)
         SELECT doc_id, rrf_score, n_lists FROM fused
         ORDER BY rrf_score DESC, doc_id ASC LIMIT 15""",

    "q_ann_bucket_hist" ->
      """SELECT CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM embeddings GROUP BY 1 ORDER BY bucket""",

    "q_ann_topk" ->
      """WITH v AS (SELECT vec_id, embedding,
                           CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                              + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                              + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                              + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
                    FROM embeddings),
              q AS (SELECT vec_id AS qid, embedding AS qe, bucket FROM v WHERE vec_id < 10),
              pairs AS (SELECT q.qid, c.vec_id AS cid, q.qe, c.embedding AS ce
                        FROM q JOIN v c USING(bucket) WHERE c.vec_id <> q.qid),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT qid, cid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS nc
                       FROM pairs, idx GROUP BY qid, cid),
              ranked AS (SELECT qid AS query_id, cid AS neighbor_id,
                                ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) AS score,
                                CAST(row_number() OVER (PARTITION BY qid ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, cid ASC) AS BIGINT) AS rank
                         FROM dots)
         SELECT query_id, neighbor_id, score, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q_ivf_topk_probe2" ->
      """SELECT vec_id AS query_id, TRUE AS recall_monotone
         FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
         ORDER BY query_id""",

    "q_ann_recall_audit" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              crank AS (SELECT vec_id, cid,
                               row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                        FROM scored_c),
              assign AS (SELECT vec_id, cid AS cell FROM crank WHERE rn = 1),
              probes AS (SELECT unnest([1, 2, 4, 8]) AS np),
              qprobe AS (SELECT vec_id AS qid, cid AS cell, rn FROM crank
                         WHERE vec_id >= 10 AND vec_id < 20),
              qe AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                     WHERE vec_id >= 10 AND vec_id < 20),
              alld AS (SELECT q.qid, c.vec_id AS nid,
                              ROUND(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))
                                    / (sqrt(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                                       * sqrt(SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))), 6) AS score
                       FROM qe q CROSS JOIN embeddings c, idx
                       WHERE c.vec_id <> q.qid
                       GROUP BY q.qid, c.vec_id),
              truth AS (SELECT qid, nid FROM (
                          SELECT qid, nid,
                                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rk
                          FROM alld) WHERE rk <= 5),
              tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
              cand AS (SELECT p.np, q.qid, a.vec_id AS nid
                       FROM probes p
                       JOIN qprobe q ON q.rn <= p.np
                       JOIN assign a ON a.cell = q.cell
                       WHERE a.vec_id <> q.qid),
              annk AS (SELECT np, qid, nid FROM (
                         SELECT cand.np, cand.qid, cand.nid,
                                row_number() OVER (PARTITION BY cand.np, cand.qid
                                  ORDER BY s.score DESC, cand.nid ASC) AS rk
                         FROM cand JOIN alld s ON s.qid = cand.qid AND s.nid = cand.nid)
                       WHERE rk <= 5),
              hits AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS n_hit
                       FROM annk JOIN truth ON truth.qid = annk.qid AND truth.nid = annk.nid
                       GROUP BY np)
         SELECT CAST(p.np AS BIGINT) AS nprobe, CAST(0 AS BIGINT) AS candidates,
                tt.n_true, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
                ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / tt.n_true, 6) AS recall
         FROM probes p LEFT JOIN hits h ON h.np = p.np CROSS JOIN tt
         ORDER BY nprobe""",

    "q_ann_recall_audit_pq" ->
      """SELECT CAST(nprobe AS BIGINT) AS nprobe, CAST(candidates AS BIGINT) AS candidates,
                CAST(n_true AS BIGINT) AS n_true, recall_in_range, full_recall_one
         FROM (VALUES (1, 10, 50, TRUE, TRUE), (2, 25, 50, TRUE, TRUE),
                      (8, 100000, 50, TRUE, TRUE))
              AS t(nprobe, candidates, n_true, recall_in_range, full_recall_one)
         ORDER BY nprobe""",

    "q_ivfpq_topk" ->
      """SELECT vec_id AS query_id, TRUE AS probe_monotone,
                TRUE AS cand_monotone
         FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
         ORDER BY query_id""",

    // the persisted-index path must reproduce the in-memory IVF operator
    // exactly, so it shares q_ivf_topk's oracle verbatim
    "q_ann_store_topk" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell FROM (
                           SELECT vec_id, cid,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1),
              q AS (SELECT a.vec_id AS qid, e.embedding AS qe, a.cell
                    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
                    WHERE a.vec_id >= 10 AND a.vec_id < 20),
              c AS (SELECT a.vec_id AS nid, e.embedding AS ne, a.cell
                    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
              pairs AS (SELECT q.qid, c.nid, q.qe, c.ne FROM q JOIN c USING (cell)
                        WHERE c.nid <> q.qid),
              dots AS (SELECT qid, nid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ne[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS nc
                       FROM pairs, idx GROUP BY qid, nid),
              ranked AS (SELECT qid AS query_id, nid AS neighbor_id,
                                ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) AS score,
                                CAST(row_number() OVER (PARTITION BY qid ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, nid ASC) AS BIGINT) AS rank
                         FROM dots)
         SELECT query_id, neighbor_id, score, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q_ann_store_pq" ->
      """SELECT vec_id AS query_id, TRUE AS recall_exact
         FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
         ORDER BY query_id""",

    "q_ann_cell_balance" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell FROM (
                           SELECT vec_id, cid,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1)
         SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
                ROUND(CAST(COUNT(*) AS DOUBLE)
                      / (SELECT CAST(COUNT(*) AS DOUBLE) FROM embeddings), 6) AS share
         FROM assign GROUP BY cell ORDER BY cell""",

    // hybrid off persisted artifacts: batch-BM25 chain (round-per-term,
    // decimal-summed — the LexIndexStore arithmetic) + exact cosine (the
    // IVF index at full probe) + the RRF fold of q_hybrid_rrf
    "q_hybrid_store_rrf" ->
      """WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS toks,
                                CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
                         FROM documents WHERE text IS NOT NULL),
              stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
                        FROM corpus),
              q AS (SELECT unnest(['dup', 'join', 'hash']) AS term),
              post0 AS (SELECT doc_id, dl, unnest(toks) AS term FROM corpus),
              postings AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
                           FROM post0 JOIN q USING (term)
                           GROUP BY doc_id, dl, term),
              dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft
                      FROM postings GROUP BY term),
              contrib AS (SELECT p.doc_id,
                                 CAST(ROUND(ln(1.0 + (s.n_docs - d.dft + 0.5) / (d.dft + 0.5))
                                      * p.tf * 2.2
                                      / (p.tf + (0.25 + (p.dl / s.avgdl) * 0.75) * 1.2), 6) AS DECIMAL(18,6)) AS c
                          FROM q JOIN postings p USING (term)
                               JOIN dfs d USING (term) CROSS JOIN stats s),
              ds AS (SELECT doc_id, CAST(SUM(c) AS DECIMAL(18,6)) AS sc
                     FROM contrib GROUP BY doc_id),
              lexrk AS (SELECT doc_id,
                               CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC) AS BIGINT) AS rank
                        FROM ds),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
              dots AS (SELECT c.vec_id AS doc_id,
                              SUM(CAST(qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)) AS nq,
                              SUM(CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)) AS nc
                       FROM qe CROSS JOIN embeddings c, idx
                       WHERE c.vec_id <> 3
                       GROUP BY c.vec_id),
              semrk AS (SELECT doc_id,
                               CAST(row_number() OVER (ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, doc_id ASC) AS BIGINT) AS rank
                        FROM dots),
              unioned AS (SELECT doc_id, rank FROM lexrk WHERE rank <= 20
                          UNION ALL
                          SELECT doc_id, rank FROM semrk WHERE rank <= 20),
              fused AS (SELECT doc_id,
                               ROUND(CAST(SUM(CAST(1.0 / (60 + rank) AS DECIMAL(28,14))) AS DOUBLE), 6) AS rrf_score,
                               CAST(COUNT(*) AS BIGINT) AS n_lists
                        FROM unioned GROUP BY doc_id)
         SELECT doc_id, rrf_score, n_lists FROM fused
         ORDER BY rrf_score DESC, doc_id ASC LIMIT 15""",

    "q_ivf_topk" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell FROM (
                           SELECT vec_id, cid,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1),
              q AS (SELECT a.vec_id AS qid, e.embedding AS qe, a.cell
                    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
                    WHERE a.vec_id >= 10 AND a.vec_id < 20),
              c AS (SELECT a.vec_id AS nid, e.embedding AS ne, a.cell
                    FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id),
              pairs AS (SELECT q.qid, c.nid, q.qe, c.ne FROM q JOIN c USING (cell)
                        WHERE c.nid <> q.qid),
              dots AS (SELECT qid, nid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ne[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS nc
                       FROM pairs, idx GROUP BY qid, nid),
              ranked AS (SELECT qid AS query_id, nid AS neighbor_id,
                                ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) AS score,
                                CAST(row_number() OVER (PARTITION BY qid ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, nid ASC) AS BIGINT) AS rank
                         FROM dots)
         SELECT query_id, neighbor_id, score, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank""",

    // frequency-estimated u per field → log-likelihood weights → scored
    // within-block pairs; (1 - 0.9) is written as the subtraction so both
    // engines compute the identical IEEE double
    "q_linkage_scores" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_type, string_split(p_name, ' ')[1] AS w1 FROM part),
              nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM p),
              s1 AS (SELECT SUM(c * c) AS s FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY p_type)),
              s2 AS (SELECT SUM(c * c) AS s FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY w1)),
              w AS (SELECT LN(0.9 / (CAST(s1.s AS DOUBLE) / (nn * nn))) AS wa1,
                           LN((1 - 0.9) / (1 - CAST(s1.s AS DOUBLE) / (nn * nn))) AS wd1,
                           LN(0.9 / (CAST(s2.s AS DOUBLE) / (nn * nn))) AS wa2,
                           LN((1 - 0.9) / (1 - CAST(s2.s AS DOUBLE) / (nn * nn))) AS wd2
                    FROM s1, s2, nr),
              ok AS (SELECT p_brand, p_size FROM p GROUP BY p_brand, p_size HAVING COUNT(*) <= 1000),
              pb AS (SELECT p.* FROM p JOIN ok ON ok.p_brand = p.p_brand AND ok.p_size = p.p_size),
              pairs AS (SELECT a.p_partkey AS id1, b.p_partkey AS id2,
                               a.p_type AS t1, b.p_type AS t2, a.w1 AS x1, b.w1 AS x2
                        FROM pb a JOIN pb b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
                                           AND a.p_partkey < b.p_partkey)
         SELECT id1, id2,
                CAST((CASE WHEN t1 IS NOT DISTINCT FROM t2 THEN 1 ELSE 0 END)
                   + (CASE WHEN x1 IS NOT DISTINCT FROM x2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
                ROUND((CASE WHEN t1 IS NOT DISTINCT FROM t2 THEN wa1 ELSE wd1 END)
                    + (CASE WHEN x1 IS NOT DISTINCT FROM x2 THEN wa2 ELSE wd2 END), 6) AS score
         FROM pairs, w
         ORDER BY id1, id2""",

    // assignment replay → fp60-mod-2^48-ordered 64-row per-cell pool →
    // within-cell cosine → positive band rn=1 × negative band rn<=2
    "q_contrastive_pairs" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell FROM (
                           SELECT vec_id, cid,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1),
              pool AS (SELECT cell, vec_id AS cand_id FROM (
                         SELECT cell, vec_id,
                                row_number() OVER (PARTITION BY cell
                                  ORDER BY CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 281474976710656 ASC,
                                           vec_id ASC) AS prn
                         FROM assign) WHERE prn <= 64),
              cp AS (SELECT a.vec_id AS anchor_id, p.cand_id, ea.embedding AS ae, ec.embedding AS ce2
                     FROM assign a JOIN pool p ON p.cell = a.cell AND p.cand_id <> a.vec_id
                     JOIN embeddings ea ON ea.vec_id = a.vec_id
                     JOIN embeddings ec ON ec.vec_id = p.cand_id),
              dots AS (SELECT anchor_id, cand_id,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(ce2[i] AS DOUBLE)) AS dot,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS na,
                              SUM(CAST(ce2[i] AS DOUBLE) * CAST(ce2[i] AS DOUBLE)) AS nc2
                       FROM cp, idx GROUP BY anchor_id, cand_id),
              scored AS (SELECT anchor_id, cand_id,
                                ROUND(dot / (sqrt(na) * sqrt(nc2)), 6) AS score
                         FROM dots),
              pos AS (SELECT anchor_id, cand_id AS pos_id, score AS pos_score FROM (
                        SELECT anchor_id, cand_id, score,
                               row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, cand_id ASC) AS rn
                        FROM scored WHERE score >= 0.3) WHERE rn = 1),
              neg AS (SELECT anchor_id, cand_id AS neg_id, score AS neg_score,
                             CAST(rn AS BIGINT) AS neg_rank FROM (
                        SELECT anchor_id, cand_id, score,
                               row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, cand_id ASC) AS rn
                        FROM scored WHERE score >= 0.15 AND score < 0.3) WHERE rn <= 2)
         SELECT p.anchor_id, p.pos_id, p.pos_score, n.neg_id, n.neg_score, n.neg_rank
         FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
         ORDER BY p.anchor_id, n.neg_rank""",

    // q_knn_classify's brute-force replay over the vec_id < 50 slice,
    // joined to true labels and rolled to the confusion matrix
    "q_knn_confusion" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS true_label FROM embeddings WHERE vec_id < 50),
              c AS (SELECT vec_id AS nid, embedding AS ne, label FROM embeddings WHERE vec_id >= 100),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT qid, nid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ne[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS nc
                       FROM q, c, idx GROUP BY qid, nid),
              ranked AS (SELECT qid, nid,
                                row_number() OVER (PARTITION BY qid ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, nid ASC) AS rn
                         FROM dots),
              nn AS (SELECT r.qid, c.label FROM ranked r JOIN c ON c.nid = r.nid WHERE r.rn <= 5),
              votes AS (SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS votes FROM nn GROUP BY qid, label),
              best AS (SELECT qid, label, votes,
                              row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS brn
                       FROM votes)
         SELECT q.true_label, CAST(b.label AS INTEGER) AS predicted_label,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM best b JOIN q ON q.qid = b.qid WHERE b.brn = 1
         GROUP BY q.true_label, b.label
         ORDER BY true_label, predicted_label""",

    // brute-force 5-NN among the labeled seed (vec_id >= 100), then the
    // majority vote with (votes desc, label asc) tie-break
    "q_knn_classify" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
              c AS (SELECT vec_id AS nid, embedding AS ne, label FROM embeddings WHERE vec_id >= 100),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT qid, nid,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS dot,
                              SUM(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS nq,
                              SUM(CAST(ne[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)) AS nc
                       FROM q, c, idx GROUP BY qid, nid),
              ranked AS (SELECT qid, nid,
                                row_number() OVER (PARTITION BY qid ORDER BY ROUND(dot / (sqrt(nq) * sqrt(nc)), 6) DESC, nid ASC) AS rn
                         FROM dots),
              nn AS (SELECT r.qid, c.label FROM ranked r JOIN c ON c.nid = r.nid WHERE r.rn <= 5),
              votes AS (SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS votes FROM nn GROUP BY qid, label),
              best AS (SELECT qid, label, votes,
                              row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS brn
                       FROM votes)
         SELECT qid AS query_id, CAST(label AS INTEGER) AS predicted_label, votes
         FROM best WHERE brn = 1 ORDER BY query_id""",

    // q_ivf_topk's assignment replay, keeping the winning cosine as the
    // affinity score, then top-2 per cell
    "q_cell_prototypes" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell, cs AS score FROM (
                           SELECT vec_id, cid, cs,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1),
              ranked AS (SELECT cell, vec_id, score,
                                CAST(row_number() OVER (PARTITION BY cell ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
                         FROM assign)
         SELECT cell, vec_id, score, rank FROM ranked
         WHERE rank <= 2 ORDER BY cell, rank""",

    // same assignment replay, global bottom-10 by own-centroid affinity
    "q_embedding_outliers" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell, cs AS score FROM (
                           SELECT vec_id, cid, cs,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1)
         SELECT vec_id, cell, score FROM assign
         ORDER BY score ASC, vec_id ASC LIMIT 10""",

    // same assignment replay split by snapshot parity, then the
    // add-one-smoothed PSI over the union cell set (q_drift_psi's math)
    "q_embedding_drift" ->
      """WITH cen AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              vc AS (SELECT v.vec_id, cen.cid,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS dot,
                            SUM(CAST(v.embedding[i] AS DOUBLE) * CAST(v.embedding[i] AS DOUBLE)) AS nv,
                            SUM(CAST(cen.ce[i] AS DOUBLE) * CAST(cen.ce[i] AS DOUBLE)) AS nc
                     FROM embeddings v, cen, idx GROUP BY v.vec_id, cen.cid),
              scored_c AS (SELECT vec_id, cid, ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cs FROM vc),
              assign AS (SELECT vec_id, cid AS cell FROM (
                           SELECT vec_id, cid,
                                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                           FROM scored_c) WHERE rn = 1),
              ref AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS np FROM assign WHERE vec_id % 2 = 0 GROUP BY cell),
              cur AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS nq FROM assign WHERE vec_id % 2 = 1 GROUP BY cell),
              joined AS (SELECT COALESCE(ref.cell, cur.cell) AS bucket,
                                COALESCE(np, 0) AS np, COALESCE(nq, 0) AS nq
                         FROM ref FULL OUTER JOIN cur ON ref.cell = cur.cell),
              tot AS (SELECT SUM(np) AS tp, SUM(nq) AS tq, COUNT(*) AS nb FROM joined)
         SELECT bucket, np, nq,
                ROUND(CAST(np + 1 AS DOUBLE) / (tp + nb), 8) AS p,
                ROUND(CAST(nq + 1 AS DOUBLE) / (tq + nb), 8) AS q,
                ROUND((CAST(np + 1 AS DOUBLE) / (tp + nb) - CAST(nq + 1 AS DOUBLE) / (tq + nb))
                      * LN((CAST(np + 1 AS DOUBLE) / (tp + nb)) / (CAST(nq + 1 AS DOUBLE) / (tq + nb))), 8) AS psi_term
         FROM joined, tot ORDER BY bucket""",

    "q_embedding_near_dups" ->
      """WITH v AS (SELECT vec_id, embedding,
                           CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                              + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                              + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                              + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
                    FROM embeddings),
              pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                               a.embedding AS ae, b.embedding AS be
                        FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT id1, id2,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS na,
                              SUM(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS nb
                       FROM pairs, idx GROUP BY id1, id2)
         SELECT id1, id2, ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS score
         FROM dots
         WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.4
         ORDER BY id1, id2""",

    // same near-dup pair construction, then 6 unrolled min-label rounds
    // (component eccentricity from the min node is ≤ 4 at every shipped SF)
    // and keep-min-per-cluster with cluster sizes
    "q_semantic_dedup" ->
      """WITH v AS (SELECT vec_id, embedding,
                           CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                              + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                              + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                              + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS bucket
                    FROM embeddings),
              prs AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                             a.embedding AS ae, b.embedding AS be
                      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT id1, id2,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
                              SUM(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS na,
                              SUM(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS nb
                       FROM prs, idx GROUP BY id1, id2),
              e0 AS (SELECT id1, id2 FROM dots
                     WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.4),
              edges AS (SELECT id1 AS a, id2 AS b FROM e0
                        UNION ALL SELECT id2 AS a, id1 AS b FROM e0),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l4 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l3 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l3 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l5 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l4 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l4 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l6 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l5 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l5 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              lab AS (SELECT emb.vec_id AS id, COALESCE(l6.label, emb.vec_id) AS cluster_id
                      FROM embeddings emb LEFT JOIN l6 ON l6.id = emb.vec_id),
              sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
                     FROM lab GROUP BY cluster_id)
         SELECT e.vec_id, CAST(e.label AS BIGINT) AS label, sz.n_members
         FROM embeddings e JOIN sz ON e.vec_id = sz.cluster_id
         ORDER BY e.vec_id""",

    "q_random_projection" ->
      """WITH idx AS (SELECT unnest(generate_series(0, 7)) AS j),
              ii AS (SELECT unnest(generate_series(0, 63)) AS i),
              m AS (SELECT j, i,
                           CASE WHEN CAST(('0x' || substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0
                                THEN 1 ELSE -1 END AS s
                    FROM idx CROSS JOIN ii),
              terms AS (SELECT e.vec_id, m.j,
                               CAST(ROUND(CAST(e.embedding[m.i + 1] AS DOUBLE) * m.s, 6) AS DECIMAL(18,6)) AS term
                        FROM embeddings e CROSS JOIN m)
         SELECT vec_id, CAST(j AS BIGINT) AS j,
                ROUND(CAST(SUM(term) AS DOUBLE) / sqrt(8.0), 6) + 0.0 AS value
         FROM terms GROUP BY vec_id, j ORDER BY vec_id, j""",

    "q_label_dispersion" ->
      """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              cent AS (SELECT label, i, ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS c
                       FROM embeddings, idx GROUP BY label, i),
              sc AS (SELECT e.vec_id, e.label,
                            SUM(CAST(e.embedding[c.i] AS DOUBLE) * c.c) AS dot,
                            SUM(CAST(e.embedding[c.i] AS DOUBLE) * CAST(e.embedding[c.i] AS DOUBLE)) AS nv,
                            SUM(c.c * c.c) AS nc
                     FROM embeddings e JOIN cent c ON c.label = e.label
                     GROUP BY e.vec_id, e.label),
              cosr AS (SELECT vec_id, label,
                              ROUND(dot / (sqrt(nv) * sqrt(nc)), 6) AS cos
                       FROM sc)
         SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(CAST(SUM(CAST(cos AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cos,
                ROUND(MIN(cos), 6) AS min_cos
         FROM cosr GROUP BY label ORDER BY label""",

    "q_drift_psi" ->
      """WITH ref AS (SELECT CAST(floor(value / 50) AS BIGINT) AS bucket FROM events
                      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
              cur AS (SELECT CAST(floor(value / 50) AS BIGINT) AS bucket FROM events
                      WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'),
              p AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS np FROM ref GROUP BY bucket),
              q AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS nq FROM cur GROUP BY bucket),
              j AS (SELECT COALESCE(p.bucket, q.bucket) AS bucket,
                           COALESCE(np, 0) AS np, COALESCE(nq, 0) AS nq
                    FROM p FULL OUTER JOIN q ON p.bucket = q.bucket),
              tot AS (SELECT SUM(np) AS tp, SUM(nq) AS tq, COUNT(*) AS nb FROM j),
              sm AS (SELECT bucket, np, nq,
                            (np + 1.0) / (tot.tp + tot.nb) AS p,
                            (nq + 1.0) / (tot.tq + tot.nb) AS q
                     FROM j, tot)
         SELECT bucket, np, nq, ROUND(p, 8) AS p, ROUND(q, 8) AS q,
                ROUND((p - q) * ln(p / q), 8) AS psi_term
         FROM sm ORDER BY bucket""",

    "q_vector_mean_by_label" ->
      """SELECT CAST(label AS BIGINT) AS label,
                ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS m1,
                ROUND(AVG(CAST(embedding[2] AS DOUBLE)), 6) AS m2,
                ROUND(AVG(CAST(embedding[3] AS DOUBLE)), 6) AS m3,
                ROUND(AVG(CAST(embedding[4] AS DOUBLE)), 6) AS m4,
                ROUND(AVG(CAST(embedding[5] AS DOUBLE)), 6) AS m5,
                ROUND(AVG(CAST(embedding[6] AS DOUBLE)), 6) AS m6,
                ROUND(AVG(CAST(embedding[7] AS DOUBLE)), 6) AS m7,
                ROUND(AVG(CAST(embedding[8] AS DOUBLE)), 6) AS m8
         FROM embeddings GROUP BY 1 ORDER BY label""",

    "q_vector_norm" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
                ROUND(sqrt(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), 6) AS l2_norm,
                ROUND(SUM(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), 4) AS self_dot
         FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
         WHERE i <= len(embedding)
         GROUP BY vec_id, len(embedding) ORDER BY vec_id""",

    "q_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
              r AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
         SELECT l.event_id, l.user_id, l.ts, rr.click_id, rr.click_ts
         FROM l LEFT JOIN LATERAL (
           SELECT r.event_id AS click_id, r.ts AS click_ts FROM r
           WHERE r.user_id = l.user_id AND r.ts <= l.ts
           ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) rr ON true
         ORDER BY event_id""",

    "q_calendar_interval_join" ->
      """WITH iv AS (SELECT id AS window_id,
                            TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL 16 HOUR AS w_start,
                            TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL 16 HOUR + INTERVAL 12 HOUR AS w_end
                     FROM (SELECT unnest(generate_series(0, 29)) AS id))
         SELECT window_id, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
         FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts <= iv.w_end
         GROUP BY window_id ORDER BY window_id""",

    "q_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         ORDER BY purchase_id, click_id""",

    // lag-gap keep rule in epoch seconds; suppressed events still reset
    // the timer (the lag is over ALL events, not kept ones)
    "q_debounce" ->
      """WITH e AS (SELECT event_id, user_id, event_type, ts,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                           lag(CAST(floor(epoch(ts)) AS BIGINT))
                             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS ptsec
                    FROM events)
         SELECT event_id, user_id, event_type FROM e
         WHERE ptsec IS NULL OR tsec - ptsec > 14400
         ORDER BY event_id""",

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec FROM events),
              g AS (SELECT user_id, ts, event_id, tsec,
                           CASE WHEN lag(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                  OR tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 3600
                                THEN 1 ELSE 0 END AS is_new
                    FROM e),
              s AS (SELECT user_id, ts, tsec,
                           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                    FROM g)
         SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
                MAX(tsec) - MIN(tsec) AS duration_s, CAST(COUNT(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",

    "q_session_window" ->
      """WITH g AS (SELECT user_id, ts,
                           CASE WHEN lag(ts) OVER w IS NULL
                                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                                THEN 1 ELSE 0 END AS is_new
                    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              s AS (SELECT user_id, ts,
                           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
                    FROM g)
         SELECT user_id, MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",

    "q_lag_lead" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
                lag(o_orderkey, 1) OVER w AS prev_key,
                lead(o_orderkey, 1) OVER w AS next_key,
                datediff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS days_since_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_orderkey""",

    "q_moving_window" ->
      """SELECT event_id, user_id,
                ROUND(AVG(value) OVER w, 4) AS mv_avg,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mv_sum,
                CAST(COUNT(*) OVER w AS BIGINT) AS mv_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q_interval_union" ->
      """WITH iv AS (SELECT user_id, event_id,
                            CAST(floor(epoch(ts)) AS BIGINT) AS s,
                            CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
                     FROM events),
              marked AS (SELECT user_id, event_id, s, e,
                                MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
                         FROM iv),
              isl AS (SELECT user_id, s, e,
                             SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                               OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                      FROM marked),
              g AS (SELECT user_id, island, MIN(s) AS i_start, MAX(e) AS i_end
                    FROM isl GROUP BY user_id, island)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
                CAST(SUM(i_end - i_start) AS BIGINT) AS covered_s
         FROM g GROUP BY user_id ORDER BY user_id""",

    "q_ratio_to_report" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
                ROUND(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) /
                      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                             OVER (PARTITION BY c_nationkey) AS DOUBLE), 8) AS share
         FROM customer ORDER BY c_custkey""",

    "q_scd2_history" ->
      """WITH ord AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
                             CASE WHEN ROW_NUMBER() OVER w = 1
                                    OR o_orderpriority IS DISTINCT FROM lag(o_orderpriority) OVER w
                                  THEN 1 ELSE 0 END AS chg
                      FROM orders
                      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)),
              v AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate ASC, o_orderkey ASC
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
                    FROM ord),
              c AS (SELECT o_custkey, CAST(version AS BIGINT) AS version,
                           MIN(o_orderpriority) AS o_orderpriority,
                           MIN(o_orderdate) AS valid_from
                    FROM v GROUP BY o_custkey, version)
         SELECT o_custkey, version, o_orderpriority, valid_from,
                lead(valid_from) OVER wv AS valid_to,
                (lead(valid_from) OVER wv IS NULL) AS is_current
         FROM c WINDOW wv AS (PARTITION BY o_custkey ORDER BY version ASC)
         ORDER BY o_custkey, version""",

    "q_snapshot_diff" ->
      """WITH a AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
                    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
                    GROUP BY o_custkey),
              b AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spend
                    FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
                    GROUP BY o_custkey),
              d AS (SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
                           CASE WHEN a.o_custkey IS NULL THEN 'I'
                                WHEN b.o_custkey IS NULL THEN 'D'
                                ELSE 'U' END AS change_type,
                           CASE WHEN a.o_custkey IS NOT NULL AND b.o_custkey IS NOT NULL
                                THEN concat_ws(',',
                                  CASE WHEN a.n_orders IS DISTINCT FROM b.n_orders THEN 'n_orders' END,
                                  CASE WHEN a.total_spend IS DISTINCT FROM b.total_spend THEN 'total_spend' END)
                                ELSE '' END AS changed_cols
                    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey)
         SELECT * FROM d
         WHERE NOT (change_type = 'U' AND changed_cols = '')
         ORDER BY o_custkey""",

    "q_skyline" ->
      """WITH p AS (SELECT p_partkey,
                           CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
                           CAST(p_size AS BIGINT) AS p_size
                    FROM part)
         SELECT p_partkey, price_cents, p_size FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
                           WHERE b.price_cents <= a.price_cents
                             AND b.p_size >= a.p_size
                             AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
         ORDER BY p_partkey""",

    "q_winsorize" ->
      """WITH b AS (SELECT event_type,
                           ROUND(quantile_cont(value, 0.05), 6) AS lo,
                           ROUND(quantile_cont(value, 0.95), 6) AS hi
                    FROM events GROUP BY event_type)
         SELECT event_id, event_type, value,
                LEAST(GREATEST(value, lo), hi) AS value_w
         FROM events JOIN b USING (event_type)
         ORDER BY event_id""",

    "q_sketch_rollup" ->
      """SELECT event_type,
                CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                TRUE AS within_5pct
         FROM events GROUP BY event_type ORDER BY event_type""",

    // bound-based like q_sketch_rollup: the oracle computes the exact
    // sides and stipulates the sketch estimate satisfied its declared
    // rank-error bound (and, for the rollup, that merged == direct)
    "q_quantile_sketch" ->
      """SELECT event_type, p, CAST(COUNT(*) AS BIGINT) AS n_rows,
                TRUE AS within_eps
         FROM events, (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS p) ps
         WHERE value IS NOT NULL
         GROUP BY event_type, p ORDER BY event_type, p""",

    // exact per-source-pair vocabulary overlap; the KMV boolean is
    // stipulated TRUE (bound-based oracle)
    "q_vocab_overlap" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                       FROM documents WHERE text IS NOT NULL),
              dv AS (SELECT DISTINCT source, tok FROM toks),
              nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM dv GROUP BY source),
              inter AS (SELECT a.source AS src_a, b.source AS src_b,
                               CAST(COUNT(*) AS BIGINT) AS exact_inter
                        FROM dv a JOIN dv b ON b.tok = a.tok AND a.source < b.source
                        GROUP BY a.source, b.source),
              pairs AS (SELECT a.source AS src_a, b.source AS src_b, a.nd AS na, b.nd AS nb
                        FROM nd a JOIN nd b ON a.source < b.source)
         SELECT p.src_a, p.src_b,
                COALESCE(i.exact_inter, 0) AS exact_inter,
                p.na + p.nb - COALESCE(i.exact_inter, 0) AS exact_union,
                ROUND(CAST(COALESCE(i.exact_inter, 0) AS DOUBLE)
                      / (p.na + p.nb - COALESCE(i.exact_inter, 0)), 6) AS exact_jacc,
                TRUE AS jacc_ok
         FROM pairs p LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
         ORDER BY p.src_a, p.src_b""",

    // exact year-pair customer overlap; the KMV estimate booleans are
    // stipulated TRUE (bound-based oracle, the q_approx_distinct scheme)
    "q_kmv_overlap" ->
      """WITH o AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr, o_custkey FROM orders),
              dv AS (SELECT DISTINCT yr, o_custkey FROM o),
              ex AS (SELECT yr, CAST(COUNT(*) AS BIGINT) AS nd FROM dv GROUP BY yr),
              inter AS (SELECT a.yr AS yr_a, CAST(COUNT(*) AS BIGINT) AS exact_inter
                        FROM dv a JOIN dv b ON b.yr = a.yr + 1 AND b.o_custkey = a.o_custkey
                        GROUP BY a.yr),
              pairs AS (SELECT a.yr AS yr_a, a.yr + 1 AS yr_b, a.nd AS na, b.nd AS nb
                        FROM ex a JOIN ex b ON b.yr = a.yr + 1)
         SELECT p.yr_a, p.yr_b,
                COALESCE(i.exact_inter, 0) AS exact_inter,
                p.na + p.nb - COALESCE(i.exact_inter, 0) AS exact_union,
                ROUND(CAST(COALESCE(i.exact_inter, 0) AS DOUBLE)
                      / (p.na + p.nb - COALESCE(i.exact_inter, 0)), 6) AS exact_jacc,
                TRUE AS jacc_ok, TRUE AS union_ok
         FROM pairs p LEFT JOIN inter i ON i.yr_a = p.yr_a
         ORDER BY p.yr_a""",

    // exact per-year distincts; merge-equals-direct and the distinct
    // bound are stipulated TRUE (bit-determinism + KMV error bound)
    "q_kmv_rollup" ->
      """WITH o AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo, o_custkey
                    FROM orders),
              ex AS (SELECT yr, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct FROM o GROUP BY yr),
              months AS (SELECT yr, CAST(COUNT(DISTINCT mo) AS BIGINT) AS n_months FROM o GROUP BY yr)
         SELECT e.yr, m.n_months, e.exact_distinct,
                TRUE AS rollup_equals_direct, TRUE AS within_eps
         FROM ex e JOIN months m ON m.yr = e.yr ORDER BY e.yr""",

    "q_quantile_rollup" ->
      """SELECT event_type,
                CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                TRUE AS within_eps, TRUE AS rollup_equals_direct
         FROM events WHERE value IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",

    "q_triangle_counts" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              shg AS (SELECT DISTINCT doc_id AS id,
                             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                      FROM grams),
              rare AS (SELECT sh FROM shg GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 5),
              e AS (SELECT DISTINCT a.id AS a, b.id AS b
                    FROM shg a JOIN rare r ON r.sh = a.sh JOIN shg b ON b.sh = a.sh
                    WHERE a.id < b.id),
              tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                      FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
              nodes AS (SELECT x AS node FROM tri
                        UNION ALL SELECT y FROM tri
                        UNION ALL SELECT z FROM tri)
         SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         FROM nodes GROUP BY node ORDER BY node""",

    // exact-count p terms rounded 8dp and decimal-summed; evenness
    // normalizes by ln(n_cats), pinned to 1 for single-category groups
    "q_source_lang_entropy" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS k
                    FROM documents WHERE lang IS NOT NULL GROUP BY source, lang),
              n AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n FROM c GROUP BY source),
              t AS (SELECT c.source, n.n,
                           CAST(ROUND(-(CAST(c.k AS DOUBLE) / n.n) * LN(CAST(c.k AS DOUBLE) / n.n), 8) AS DECIMAL(20,8)) AS t
                    FROM c JOIN n ON n.source = c.source),
              a AS (SELECT source, n, CAST(COUNT(*) AS BIGINT) AS n_cats,
                           CAST(SUM(t) AS DOUBLE) AS h
                    FROM t GROUP BY source, n)
         SELECT source, n, n_cats, ROUND(h, 6) AS entropy,
                CASE WHEN n_cats = 1 THEN 1.0
                     ELSE ROUND(h / LN(CAST(n_cats AS DOUBLE)), 6) END AS evenness
         FROM a ORDER BY source""",

    "q_top_share" ->
      """WITH x AS (SELECT o_orderpriority, o_orderkey,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                    FROM orders),
              r AS (SELECT o_orderpriority, x,
                           row_number() OVER (PARTITION BY o_orderpriority
                             ORDER BY x DESC, o_orderkey ASC) AS rn
                    FROM x),
              a AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(x) AS tot,
                           SUM(CASE WHEN rn <= 10 THEN x ELSE 0 END) AS top
                    FROM r GROUP BY o_orderpriority)
         SELECT o_orderpriority, n, CAST(tot AS DOUBLE) / 100 AS total,
                CASE WHEN tot = 0 THEN 0.0
                     ELSE ROUND(CAST(top AS DOUBLE) / CAST(tot AS DOUBLE), 6) END AS top10_share
         FROM a ORDER BY o_orderpriority""",

    // rank-formula Gini over integer cents; tie order among equal values
    // cannot move the sum, so no cross-engine tie hazard
    "q_gini" ->
      """WITH x AS (SELECT o_orderpriority AS g,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                    FROM orders WHERE o_totalprice IS NOT NULL),
              r AS (SELECT g, x,
                           CAST(row_number() OVER (PARTITION BY g ORDER BY x ASC) AS BIGINT) AS i
                    FROM x),
              a AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(i * x) AS six
                    FROM r GROUP BY g)
         SELECT g AS o_orderpriority, n, CAST(sx AS DOUBLE) / 100 AS total,
                CASE WHEN n = 1 OR sx = 0 THEN 0.0
                     ELSE ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                                / CAST(n * sx AS DOUBLE), 6) END AS gini
         FROM a ORDER BY o_orderpriority""",

    // lead-gap weights in floored epoch seconds, cents × seconds summed
    // exactly; the last sample carries no weight
    "q_twap" ->
      """WITH e AS (SELECT user_id, event_id, ts,
                           CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
                    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
              w AS (SELECT user_id, v,
                           lead(tsec) OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC) - tsec AS w
                    FROM e),
              f AS (SELECT user_id, v, w FROM w WHERE w IS NOT NULL),
              a AS (SELECT user_id, CAST(COUNT(*) + 1 AS BIGINT) AS n_samples,
                           SUM(w) AS span, SUM(v * w) AS vw
                    FROM f GROUP BY user_id)
         SELECT user_id, n_samples, CAST(span AS BIGINT) AS span_seconds,
                ROUND(CAST(vw AS DOUBLE) / CAST(span AS DOUBLE) / 100, 6) AS twa
         FROM a WHERE span > 0 ORDER BY user_id""",

    "q_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, string_split(p.p_type, ' ')[1] AS ptype
                     FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
              single AS (SELECT ptype, CAST(COUNT(*) AS BIGINT) AS na FROM li GROUP BY ptype),
              tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM li),
              pr AS (SELECT a.ptype AS t1, b.ptype AS t2, CAST(COUNT(*) AS BIGINT) AS nab
                     FROM li a JOIN li b ON a.ok = b.ok AND a.ptype < b.ptype
                     GROUP BY a.ptype, b.ptype)
         SELECT pr.t1, pr.t2, pr.nab,
                ROUND(CAST(pr.nab * n AS DOUBLE) / (s1.na * s2.na), 6) AS lift
         FROM pr JOIN single s1 ON s1.ptype = pr.t1
                 JOIN single s2 ON s2.ptype = pr.t2
                 CROSS JOIN tot
         ORDER BY pr.t1, pr.t2""",

    "q_rfm" ->
      """WITH per AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
                             CAST(COUNT(*) AS BIGINT) AS frequency,
                             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
                      FROM orders GROUP BY o_custkey),
              mx AS (SELECT MAX(o_orderdate) AS mx FROM orders),
              base AS (SELECT o_custkey,
                              CAST(date_diff('day', CAST(last_order AS DATE), CAST(mx AS DATE)) AS BIGINT) AS recency_days,
                              frequency, monetary
                       FROM per, mx)
         SELECT o_custkey, recency_days, frequency, monetary,
                CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC) AS BIGINT) AS r_score,
                CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS BIGINT) AS f_score,
                CAST(ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS BIGINT) AS m_score
         FROM base ORDER BY o_custkey""",

    "q_incremental_agg" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    // per-language rank over fp60 mod 2^48 (the heap's exact-double
    // ordering), ties id-ascending
    "q_stratified_topk" ->
      """SELECT lang, doc_id, CAST(rn AS BIGINT) AS rank FROM (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 281474976710656 ASC,
                             doc_id ASC) AS rn
           FROM documents)
         WHERE rn <= 20 ORDER BY lang, rank""",

    "q_weighted_sample" ->
      """SELECT doc_id, lang, n_chars FROM (
           SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 0
           ORDER BY -ln((CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
                        / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) ASC,
                    doc_id ASC
           LIMIT 50)
         ORDER BY doc_id""",

    "q_pagerank" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              shg AS (SELECT DISTINCT doc_id AS id,
                             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                      FROM grams),
              rare AS (SELECT sh FROM shg GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 5),
              e AS (SELECT DISTINCT a.id AS a, b.id AS b
                    FROM shg a JOIN rare r ON r.sh = a.sh JOIN shg b ON b.sh = a.sh
                    WHERE a.id < b.id),
              bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
              d AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY u),
              n AS (SELECT u AS node FROM d),
              pr0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS pr FROM n),
              c1 AS (SELECT bi.v AS node, SUM(pr0.pr // d.deg) AS s
                     FROM bi JOIN pr0 ON pr0.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr1 AS (SELECT n.node, 150000000000 + (85 * COALESCE(c1.s, 0)) // 100 AS pr
                      FROM n LEFT JOIN c1 USING (node)),
              c2 AS (SELECT bi.v AS node, SUM(pr1.pr // d.deg) AS s
                     FROM bi JOIN pr1 ON pr1.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr2 AS (SELECT n.node, 150000000000 + (85 * COALESCE(c2.s, 0)) // 100 AS pr
                      FROM n LEFT JOIN c2 USING (node)),
              c3 AS (SELECT bi.v AS node, SUM(pr2.pr // d.deg) AS s
                     FROM bi JOIN pr2 ON pr2.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr3 AS (SELECT n.node, 150000000000 + (85 * COALESCE(c3.s, 0)) // 100 AS pr
                      FROM n LEFT JOIN c3 USING (node)),
              c4 AS (SELECT bi.v AS node, SUM(pr3.pr // d.deg) AS s
                     FROM bi JOIN pr3 ON pr3.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr4 AS (SELECT n.node, 150000000000 + (85 * COALESCE(c4.s, 0)) // 100 AS pr
                      FROM n LEFT JOIN c4 USING (node)),
              c5 AS (SELECT bi.v AS node, SUM(pr4.pr // d.deg) AS s
                     FROM bi JOIN pr4 ON pr4.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr5 AS (SELECT n.node, 150000000000 + (85 * COALESCE(c5.s, 0)) // 100 AS pr
                      FROM n LEFT JOIN c5 USING (node))
         SELECT node, CAST(pr AS BIGINT) AS pr FROM pr5 ORDER BY node""",

    // same rare-shingle dup-evidence edges, then 3 unrolled synchronous
    // LPA rounds: per-node neighbor-label vote, argmax (count desc,
    // label asc)
    "q_label_prop" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              shg AS (SELECT DISTINCT doc_id AS id,
                             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                      FROM grams),
              rare AS (SELECT sh FROM shg GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 5),
              e AS (SELECT DISTINCT a.id AS a, b.id AS b
                    FROM shg a JOIN rare r ON r.sh = a.sh JOIN shg b ON b.sh = a.sh
                    WHERE a.id < b.id),
              bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
              l0 AS (SELECT DISTINCT v AS node, v AS label FROM bi),
              v1 AS (SELECT bi.v AS node, l0.label, CAST(COUNT(*) AS BIGINT) AS c
                     FROM bi JOIN l0 ON l0.node = bi.u GROUP BY bi.v, l0.label),
              l1 AS (SELECT node, label FROM (
                       SELECT node, label,
                              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                       FROM v1) WHERE rn = 1),
              v2 AS (SELECT bi.v AS node, l1.label, CAST(COUNT(*) AS BIGINT) AS c
                     FROM bi JOIN l1 ON l1.node = bi.u GROUP BY bi.v, l1.label),
              l2 AS (SELECT node, label FROM (
                       SELECT node, label,
                              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                       FROM v2) WHERE rn = 1),
              v3 AS (SELECT bi.v AS node, l2.label, CAST(COUNT(*) AS BIGINT) AS c
                     FROM bi JOIN l2 ON l2.node = bi.u GROUP BY bi.v, l2.label),
              l3 AS (SELECT node, label FROM (
                       SELECT node, label,
                              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                       FROM v3) WHERE rn = 1)
         SELECT node, label FROM l3 ORDER BY node""",

    // chain CC (3 min-label rounds, converged) × 3 unrolled LPA rounds →
    // contingency-table Rand / Adjusted Rand, all-integer until the two
    // final divisions
    "q_cluster_agreement" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              p0 AS (SELECT DISTINCT a AS node, a AS label FROM edges),
              w1 AS (SELECT edges.a AS node, p0.label, CAST(COUNT(*) AS BIGINT) AS c
                     FROM edges JOIN p0 ON p0.node = edges.b GROUP BY edges.a, p0.label),
              p1 AS (SELECT node, label FROM (
                       SELECT node, label,
                              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                       FROM w1) WHERE rn = 1),
              w2 AS (SELECT edges.a AS node, p1.label, CAST(COUNT(*) AS BIGINT) AS c
                     FROM edges JOIN p1 ON p1.node = edges.b GROUP BY edges.a, p1.label),
              p2 AS (SELECT node, label FROM (
                       SELECT node, label,
                              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                       FROM w2) WHERE rn = 1),
              w3 AS (SELECT edges.a AS node, p2.label, CAST(COUNT(*) AS BIGINT) AS c
                     FROM edges JOIN p2 ON p2.node = edges.b GROUP BY edges.a, p2.label),
              p3 AS (SELECT node, label FROM (
                       SELECT node, label,
                              row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
                       FROM w3) WHERE rn = 1),
              j AS (SELECT l3.id, l3.label AS ca, p3.label AS cb
                    FROM l3 JOIN p3 ON p3.node = l3.id),
              cs AS (SELECT CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sij FROM (
                       SELECT CAST(COUNT(*) AS BIGINT) AS nij FROM j GROUP BY ca, cb)),
              asums AS (SELECT CAST(SUM((na * (na - 1)) // 2) AS BIGINT) AS sa FROM (
                          SELECT CAST(COUNT(*) AS BIGINT) AS na FROM j GROUP BY ca)),
              bsums AS (SELECT CAST(SUM((nb * (nb - 1)) // 2) AS BIGINT) AS sb FROM (
                          SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM j GROUP BY cb)),
              tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                             CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS n_pairs FROM j)
         SELECT n, n_pairs, sij, sa, sb,
                ROUND(CAST(n_pairs + 2 * sij - sa - sb AS DOUBLE) / n_pairs, 6) AS rand_index,
                ROUND((CAST(sij AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n_pairs)
                      / (CAST(sa + sb AS DOUBLE) / 2 - CAST(sa AS DOUBLE) * sb / n_pairs), 6) AS adjusted_rand
         FROM tot, cs, asums, bsums""",

    "q_modularity" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              edges AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
              l0 AS (SELECT DISTINCT a AS id, a AS label FROM edges),
              l1 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l0 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l0 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l2 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l1 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l1 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              l3 AS (SELECT l.id, LEAST(l.label, COALESCE(n.m, l.label)) AS label
                     FROM l2 l LEFT JOIN (SELECT e.a AS id, MIN(x.label) AS m
                                          FROM edges e JOIN l2 x ON x.id = e.b
                                          GROUP BY e.a) n USING (id)),
              mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
              deg AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS d
                      FROM edges GROUP BY a),
              asg AS (SELECT id AS n, label AS c FROM l3),
              intra AS (SELECT x.c AS cluster, CAST(COUNT(*) AS BIGINT) AS e_c
                        FROM e JOIN asg x ON x.n = e.a
                             JOIN asg y ON y.n = e.b
                        WHERE x.c = y.c GROUP BY x.c),
              ds AS (SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                            CAST(SUM(d) AS BIGINT) AS d_c
                     FROM asg JOIN deg ON deg.n = asg.n GROUP BY c)
         SELECT ds.cluster, ds.n_nodes,
                CAST(COALESCE(intra.e_c, 0) AS BIGINT) AS e_c, ds.d_c,
                CAST(COALESCE(intra.e_c, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
                - CAST(ds.d_c * ds.d_c AS DOUBLE)
                  / CAST(4 * mm.m * mm.m AS DOUBLE) AS q_term
         FROM ds LEFT JOIN intra USING (cluster) CROSS JOIN mm
         ORDER BY cluster""",

    "q_kcore" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              shg AS (SELECT DISTINCT doc_id AS id,
                             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                      FROM grams),
              rare AS (SELECT sh FROM shg GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 5),
              e AS (SELECT DISTINCT a.id AS a, b.id AS b
                    FROM shg a JOIN rare r ON r.sh = a.sh JOIN shg b ON b.sh = a.sh
                    WHERE a.id < b.id),
              bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
              s1 AS (SELECT u AS n FROM bi GROUP BY u HAVING COUNT(*) >= 3),
              s2 AS (SELECT u AS n FROM bi
                     WHERE u IN (SELECT n FROM s1) AND v IN (SELECT n FROM s1)
                     GROUP BY u HAVING COUNT(*) >= 3),
              s3 AS (SELECT u AS n FROM bi
                     WHERE u IN (SELECT n FROM s2) AND v IN (SELECT n FROM s2)
                     GROUP BY u HAVING COUNT(*) >= 3)
         SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM bi
         WHERE u IN (SELECT n FROM s3) AND v IN (SELECT n FROM s3)
         GROUP BY u ORDER BY node""",

    "q_shard_conductance" ->
      """WITH e0 AS (SELECT doc_id AS id1, doc_id + 1 AS id2 FROM documents
                     WHERE doc_id % 10 < 3),
              e AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
                    FROM e0 WHERE id1 <> id2),
              mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
              bi AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
              deg AS (SELECT a AS n, CAST(COUNT(*) AS BIGINT) AS d
                      FROM bi GROUP BY a),
              asg AS (SELECT doc_id AS n,
                             CAST(MAX((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT)
                                       % 2147483648) * 16 + s) % 16 AS BIGINT) AS c
                      FROM documents,
                           (SELECT unnest(generate_series(0, 15)) AS s) sh
                      GROUP BY doc_id),
              lab AS (SELECT e.a, e.b, x.c AS ca, y.c AS cb
                      FROM e LEFT JOIN asg x ON x.n = e.a
                           LEFT JOIN asg y ON y.n = e.b),
              cuts AS (SELECT ca AS cluster FROM lab
                       WHERE ca IS NOT NULL AND (cb IS NULL OR cb <> ca)
                       UNION ALL
                       SELECT cb FROM lab
                       WHERE cb IS NOT NULL AND (ca IS NULL OR ca <> cb)),
              cutc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cut_c
                       FROM cuts GROUP BY cluster),
              vol AS (SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                             CAST(SUM(d) AS BIGINT) AS vol_c
                      FROM asg JOIN deg ON deg.n = asg.n GROUP BY c)
         SELECT vol.cluster, vol.n_nodes,
                CAST(COALESCE(cutc.cut_c, 0) AS BIGINT) AS cut_c, vol.vol_c,
                CAST(COALESCE(cutc.cut_c, 0) AS DOUBLE)
                / CAST(least(vol.vol_c, 2 * mm.m - vol.vol_c) AS DOUBLE) AS phi
         FROM vol LEFT JOIN cutc USING (cluster) CROSS JOIN mm
         ORDER BY cluster""",

    "q_ppr_seeds" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
              grams AS (SELECT doc_id, array_to_string(t[j:j+2], ' ') AS g
                        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
                        WHERE j <= greatest(len(t) - 2, 1)),
              shg AS (SELECT DISTINCT doc_id AS id,
                             CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS sh
                      FROM grams),
              rare AS (SELECT sh FROM shg GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 5),
              e AS (SELECT DISTINCT a.id AS a, b.id AS b
                    FROM shg a JOIN rare r ON r.sh = a.sh JOIN shg b ON b.sh = a.sh
                    WHERE a.id < b.id),
              bi AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
              d AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM bi GROUP BY u),
              sn AS (SELECT u AS node,
                            CASE WHEN u % 97 = 0 THEN 1 ELSE 0 END AS is_seed
                     FROM d),
              pr0 AS (SELECT node, CAST(is_seed * 1000000000000 AS BIGINT) AS pr
                      FROM sn),
              c1 AS (SELECT bi.v AS node, SUM(pr0.pr // d.deg) AS s
                     FROM bi JOIN pr0 ON pr0.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr1 AS (SELECT sn.node, sn.is_seed * 150000000000 + (85 * COALESCE(c1.s, 0)) // 100 AS pr
                      FROM sn LEFT JOIN c1 USING (node)),
              c2 AS (SELECT bi.v AS node, SUM(pr1.pr // d.deg) AS s
                     FROM bi JOIN pr1 ON pr1.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr2 AS (SELECT sn.node, sn.is_seed * 150000000000 + (85 * COALESCE(c2.s, 0)) // 100 AS pr
                      FROM sn LEFT JOIN c2 USING (node)),
              c3 AS (SELECT bi.v AS node, SUM(pr2.pr // d.deg) AS s
                     FROM bi JOIN pr2 ON pr2.node = bi.u JOIN d ON d.u = bi.u GROUP BY bi.v),
              pr3 AS (SELECT sn.node, sn.is_seed * 150000000000 + (85 * COALESCE(c3.s, 0)) // 100 AS pr
                      FROM sn LEFT JOIN c3 USING (node))
         SELECT node, CAST(pr AS BIGINT) AS pr FROM pr3 ORDER BY node""",

    "q_weighted_shard" ->
      """WITH sw AS (SELECT * FROM (VALUES (0, 4.0), (1, 2.0), (2, 1.0), (3, 1.0)) AS t(s, w)),
              sc AS (SELECT doc_id, s,
                            ROUND(w / -ln(CAST((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) % 2147483648) + 1 AS DOUBLE)
                                          / 2147483649.0), 9) AS score
                     FROM documents, sw),
              a AS (SELECT doc_id, CAST(s AS BIGINT) AS shard
                    FROM (SELECT doc_id, s,
                                 row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, s ASC) AS r
                          FROM sc)
                    WHERE r = 1)
         SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM a GROUP BY shard ORDER BY shard""",

    "q_rendezvous_shard" ->
      """WITH sc AS (SELECT doc_id, s,
                            (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT)
                             % 2147483648) * 16 + s AS sc16,
                            (CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 15)) AS BIGINT)
                             % 2147483648) * 17 + s AS sc17
                     FROM documents,
                          (SELECT unnest(generate_series(0, 16)) AS s) sh),
              a AS (SELECT doc_id,
                           CAST(MAX(CASE WHEN s < 16 THEN sc16 END) % 16 AS BIGINT) AS shard,
                           CAST(MAX(sc17) % 17 AS BIGINT) AS s17
                    FROM sc GROUP BY doc_id)
         SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN s17 <> shard THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         FROM a GROUP BY shard ORDER BY shard""",

    "q_rolling_active_users" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
                     FROM events),
              days AS (SELECT DISTINCT day FROM ud),
              e AS (SELECT ud.user_id, ud.day + CAST(o.o AS INTEGER) AS day
                    FROM ud, (SELECT unnest(generate_series(0, 6)) AS o) o)
         SELECT e.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS wau
         FROM e JOIN days USING (day)
         GROUP BY e.day ORDER BY e.day""",

    "q_seasonal_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type,
                            CAST(hour(ts) AS BIGINT) AS hod, value,
                            CAST(round(value * 100) AS BIGINT) AS vc
                     FROM events),
              st AS (SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n,
                            SUM(vc) AS s1, SUM(vc * vc) AS s2
                     FROM ev GROUP BY event_type, hod)
         SELECT event_id, ev.event_type, ev.hod, value,
                ROUND((value - CAST(s1 AS DOUBLE) / n / 100.0) /
                      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                           / (n - 1) / 10000.0), 4) AS z
         FROM ev JOIN st ON ev.event_type = st.event_type AND ev.hod = st.hod
         WHERE abs((value - CAST(s1 AS DOUBLE) / n / 100.0) /
                   sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                        / (n - 1) / 10000.0)) > 3.0
         ORDER BY event_id""",

    "q_equidepth_bins" ->
      """WITH b AS (SELECT event_type, value,
                           CAST(ntile(10) OVER (PARTITION BY event_type
                                                ORDER BY value ASC, event_id ASC) AS BIGINT) AS bin
                    FROM events)
         SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n,
                MIN(value) AS lo, MAX(value) AS hi
         FROM b GROUP BY event_type, bin ORDER BY event_type, bin""",

    "q_band_join" ->
      """SELECT a.p_partkey AS id1, b.p_partkey AS id2,
                a.p_retailprice AS v1, b.p_retailprice AS v2
         FROM part a JOIN part b
           ON abs(a.p_retailprice - b.p_retailprice) <= 0.05
          AND a.p_partkey < b.p_partkey
         ORDER BY id1, id2""",

    "q_user_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
                     FROM events),
              g AS (SELECT user_id, day,
                           day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day ASC) AS INTEGER) AS grp
                    FROM ud),
              s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp)
         SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
                CAST(SUM(len) AS BIGINT) AS n_active_days
         FROM s GROUP BY user_id ORDER BY user_id""",

    "q_profile_columns" ->
      """WITH p AS (
           SELECT 'c_custkey' AS col_name, COUNT(*) AS n_rows,
                  COUNT(*) - COUNT(c_custkey) AS n_nulls,
                  COUNT(DISTINCT c_custkey) AS n_distinct FROM customer
           UNION ALL
           SELECT 'c_name', COUNT(*), COUNT(*) - COUNT(c_name),
                  COUNT(DISTINCT c_name) FROM customer
           UNION ALL
           SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(c_nationkey),
                  COUNT(DISTINCT c_nationkey) FROM customer
           UNION ALL
           SELECT 'c_acctbal', COUNT(*), COUNT(*) - COUNT(c_acctbal),
                  COUNT(DISTINCT c_acctbal) FROM customer
           UNION ALL
           SELECT 'c_mktsegment', COUNT(*), COUNT(*) - COUNT(c_mktsegment),
                  COUNT(DISTINCT c_mktsegment) FROM customer)
         SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
                CAST(n_nulls AS BIGINT) AS n_nulls,
                CAST(n_distinct AS BIGINT) AS n_distinct
         FROM p ORDER BY col_name""",

    "q_quantile_normalize" ->
      """SELECT event_id, event_type, value,
                ROUND(percent_rank() OVER (PARTITION BY event_type
                                           ORDER BY value ASC, event_id ASC), 6) AS qnorm
         FROM events ORDER BY event_id""",

    "q_benford" ->
      """WITH o AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                    FROM orders),
              tot AS (SELECT COUNT(*) AS total FROM o)
         SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(CAST(COUNT(*) AS DOUBLE) / total, 6) AS pct,
                ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_expected
         FROM o CROSS JOIN tot
         GROUP BY digit, total ORDER BY digit""",

    "q_embedding_dist_hist" ->
      """WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
              pairs AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
                               a.embedding AS ea, b.embedding AS eb
                        FROM s a JOIN s b ON a.vec_id < b.vec_id),
              idx AS (SELECT unnest(generate_series(1, 64)) AS i),
              dots AS (SELECT ai, bi,
                              SUM(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS dot,
                              SUM(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE)) AS na,
                              SUM(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)) AS nb
                       FROM pairs, idx GROUP BY ai, bi),
              b AS (SELECT CAST(floor(ROUND(dot / (sqrt(na) * sqrt(nb)), 6) * 10) AS BIGINT) AS bucket
                    FROM dots)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
         FROM b GROUP BY bucket ORDER BY bucket""",

    "q_retention_cohorts" ->
      """WITH firsts AS (SELECT user_id, MIN(date_trunc('day', ts)) AS cohort
                         FROM events GROUP BY user_id),
              active AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
         SELECT cohort, CAST(datediff('day', cohort, day) AS BIGINT) AS day_offset,
                CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
         FROM active a JOIN firsts f ON a.user_id = f.user_id
         GROUP BY cohort, datediff('day', cohort, day)
         ORDER BY cohort, day_offset""",

    "q_event_sequence" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                array_to_string((list(event_type ORDER BY ts, event_id))[1:20], '>') AS journey
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q_markov_transitions" ->
      """WITH lagged AS (SELECT user_id, event_type AS curr,
                                lag(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev
                         FROM events),
              counts AS (SELECT prev, curr, CAST(COUNT(*) AS BIGINT) AS n
                         FROM lagged WHERE prev IS NOT NULL GROUP BY prev, curr)
         SELECT prev, curr, n,
                ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev), 6) AS p
         FROM counts ORDER BY prev, curr""",

    "q_range_frame" ->
      """WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS tsec, value
                    FROM events)
         SELECT event_id, user_id, tsec,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hr_sum,
                CAST(COUNT(*) OVER w AS BIGINT) AS hr_n
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY tsec
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q_gap_fill" ->
      """WITH o0 AS (SELECT user_id, date_trunc('day', ts) AS day, value,
                            row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                               ORDER BY ts DESC, event_id DESC) AS rn
                     FROM events),
              obs AS (SELECT user_id, day, value FROM o0 WHERE rn = 1),
              span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM obs GROUP BY user_id),
              grid AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM span),
              j AS (SELECT g.user_id, g.day, o.value, o.value IS NOT NULL AS observed
                    FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day)
         SELECT user_id, day,
                last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff,
                observed
         FROM j ORDER BY user_id, day""",

    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS step_1_ts FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
              s2 AS (SELECT e.user_id, MIN(e.ts) AS step_2_ts FROM events e
                     JOIN s1 ON e.user_id = s1.user_id
                     WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
                     GROUP BY e.user_id),
              s3 AS (SELECT e.user_id, MIN(e.ts) AS step_3_ts FROM events e
                     JOIN s2 ON e.user_id = s2.user_id
                     WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
                     GROUP BY e.user_id)
         SELECT u.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
                CAST((CASE WHEN s1.step_1_ts IS NULL THEN 0 ELSE 1 END)
                   + (CASE WHEN s2.step_2_ts IS NULL THEN 0 ELSE 1 END)
                   + (CASE WHEN s3.step_3_ts IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS depth
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN s1 ON u.user_id = s1.user_id
         LEFT JOIN s2 ON u.user_id = s2.user_id
         LEFT JOIN s3 ON u.user_id = s3.user_id
         ORDER BY u.user_id""",

    "q_corr_regr" ->
      """SELECT l_returnflag,
                ROUND(corr(l_quantity, l_extendedprice), 6) AS r,
                ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
                ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
                ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_lateral_join" ->
      """SELECT n_name, c_custkey, c_acctbal
         FROM nation, LATERAL (SELECT c_custkey, c_acctbal FROM customer
                               WHERE c_nationkey = n_nationkey
                               ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
         ORDER BY n_name, c_acctbal DESC, c_custkey""",

    "q_left_join_count_dist" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS n_cust
         FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
               FROM customer LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY c_custkey)
         GROUP BY c_count ORDER BY n_cust DESC, c_count DESC""",

    "q_full_outer_join" ->
      """WITH a AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_f FROM orders
                    WHERE o_orderstatus = 'F' GROUP BY o_custkey),
              b AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_o FROM orders
                    WHERE o_orderstatus = 'O' GROUP BY o_custkey)
         SELECT o_custkey, COALESCE(n_f, 0) AS n_f, COALESCE(n_o, 0) AS n_o
         FROM a FULL OUTER JOIN b USING (o_custkey)
         ORDER BY o_custkey""",

    "q_exists_agg" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_scalar_subquery" ->
      """WITH a AS (SELECT l_partkey,
                           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS aq
                    FROM lineitem GROUP BY l_partkey)
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem JOIN a USING (l_partkey)
         WHERE l_quantity < 0.5 * aq""",

    "q_conditional_agg" ->
      """SELECT l_returnflag,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_promo_share" ->
      """SELECT ROUND(100.0 *
                  CAST(SUM(CASE WHEN p_type = 'PROMO'
                                THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                                ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) /
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE),
                6) AS promo_revenue_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey""",

    "q_having" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         FROM orders GROUP BY o_custkey
         HAVING COUNT(*) >= 15 ORDER BY o_custkey""",

    "q_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY custkey""",

    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY custkey""",

    "q_cube_agg" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""",

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY g_rf, g_ls, l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""",

    "q_pivot_event_counts" ->
      """SELECT date_trunc('day', ts) AS day,
                CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY 1 ORDER BY day""",

    "q_dense_rank_ntile" ->
      """SELECT o_orderstatus, rn, o_orderkey, o_totalprice, drank, quartile, pct_rank, cume
         FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
                      CAST(row_number() OVER w AS BIGINT) AS rn,
                      CAST(dense_rank() OVER w AS BIGINT) AS drank,
                      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                      ROUND(percent_rank() OVER w, 6) AS pct_rank,
                      ROUND(cume_dist() OVER w, 6) AS cume
               FROM orders
               WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey ASC))
         WHERE rn <= 50 ORDER BY o_orderstatus, rn""",

    "q_minby_maxby" ->
      """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
                           row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
                           row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
                    FROM orders)
         SELECT o_orderstatus,
                MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_price_key,
                MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_price_key,
                MAX(o_totalprice) AS max_price,
                MIN(o_totalprice) AS min_price
         FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_percentiles" ->
      """SELECT o_orderstatus,
                ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    // bound-based sketch oracles: the oracle computes the exact side and
    // stipulates the engine's sketch satisfied the declared tolerance —
    // the booleans hash-match iff the sketch was in bounds
    "q_approx_percentiles" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
                TRUE AS p25_within_5pct, TRUE AS p50_within_5pct,
                TRUE AS p75_within_5pct
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_approx_distinct" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                TRUE AS within_10pct
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n,
                MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
         FROM orders GROUP BY 1 ORDER BY bucket""",

    "q_string_funcs" ->
      """SELECT c_custkey,
                upper(c_name) AS name_upper,
                lower(c_mktsegment) AS seg_lower,
                substring(c_name, 1, 8) AS name_prefix,
                CAST(length(c_name) AS BIGINT) AS name_len,
                concat_ws('-', c_mktsegment, c_custkey) AS seg_key,
                lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
                regexp_replace(c_name, '[0-9]', '', 'g') AS name_alpha
         FROM customer ORDER BY c_custkey""",

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(abs(-l_extendedprice), 2) AS abs_price,
                CAST(ceil(l_discount * 100) AS BIGINT) AS disc_ceil,
                CAST(floor(l_discount * 100) AS BIGINT) AS disc_floor,
                ROUND(sqrt(l_quantity), 6) AS qty_sqrt,
                ROUND(ln(l_extendedprice), 6) AS price_ln,
                ROUND(power(l_quantity, 2), 2) AS qty_sq,
                l_orderkey % 7 AS key_mod
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q_date_funcs" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(day(o_orderdate) AS BIGINT) AS dom,
                o_orderdate + INTERVAL 30 DAY AS plus30,
                datediff('day', o_orderdate, DATE '2002-01-01') AS days_to_2002,
                last_day(CAST(o_orderdate AS DATE)) AS month_end,
                date_trunc('month', o_orderdate) AS month_start
         FROM orders ORDER BY o_orderkey""",

    "q_null_funcs" ->
      """SELECT o_orderkey,
                COALESCE(NULLIF(o_orderstatus, 'F'), 'FINAL') AS status_nn,
                GREATEST(o_totalprice, 150000.0) AS price_floor,
                LEAST(o_totalprice, 150000.0) AS price_cap,
                CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS size_tag,
                o_custkey IS NULL AS cust_missing
         FROM orders ORDER BY o_orderkey""",

    "q_array_funcs" ->
      """SELECT doc_id,
                list_contains(string_split(text, ' '), 'the') AS has_the,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                array_to_string(string_split(text, ' ')[1:3], '|') AS first3,
                list_sort(list_distinct(string_split(text, ' ')))[1] AS first_sorted,
                lang AS lang_via_struct
         FROM documents WHERE doc_id < 50 ORDER BY doc_id""",

    "q_regexp_extract" ->
      """SELECT c_custkey,
                COALESCE(regexp_extract(c_name, '([0-9]+)', 1), '') AS name_digits,
                regexp_matches(c_name, '[0-9]{3,}') AS has_3digits
         FROM customer ORDER BY c_custkey""",

    "q_levenshtein" ->
      """SELECT n_name, CAST(levenshtein(n_name, 'UNITED STATES') AS BIGINT) AS dist
         FROM nation ORDER BY n_name""",

    "q_token_positions" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 20)
         SELECT doc_id, CAST(j AS BIGINT) AS pos, t[j] AS word
         FROM toks, (SELECT unnest(generate_series(1, 4000)) AS j)
         WHERE j <= len(t)
         ORDER BY doc_id, pos""",

    "q_json_keys" ->
      """SELECT event_id,
                array_to_string(list_sort(json_keys(props)), ',') AS keys,
                CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
                CAST(props ->> 'k' AS BIGINT) AS k_val
         FROM events WHERE event_id < 100 ORDER BY event_id""",

    // the explode of a canonically-ordered collect_list is relationally
    // just the base rows with their per-key rank — event_id is unique, so
    // row_number ordered by it reproduces sort_array's struct order
    "q_nested_explode" ->
      """WITH g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
                    FROM events
                    WHERE user_id IS NOT NULL AND event_id IS NOT NULL
                    GROUP BY user_id)
         SELECT e.user_id, g.n AS n_events,
                CAST(row_number() OVER (PARTITION BY e.user_id
                  ORDER BY e.event_id) - 1 AS BIGINT) AS idx,
                e.event_id, e.event_type, e.value
         FROM events e JOIN g USING (user_id)
         WHERE e.event_id IS NOT NULL AND g.n >= 60
         ORDER BY user_id, idx""",

    "q_multimodal_payload" ->
      """SELECT doc_id AS media_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_hash,
                CAST(floor(octet_length(encode(text)) / 100) AS BIGINT) AS size_bucket
         FROM documents ORDER BY media_id""",

    "q_multimodal_blob_dedup" ->
      """SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
                CAST(COUNT(*) AS BIGINT) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY keep_id""",

    "q_multimodal_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_ms
         FROM documents,
              (SELECT unnest(generate_series(0, 100000, 500)) AS f)
         WHERE doc_id < 100 AND f <= n_chars * 10
         ORDER BY media_id, frame_ms""",

    "q_embedding_quantize" ->
      """WITH q AS (SELECT vec_id,
                           127.0 / list_max(list_transform(embedding,
                             x -> abs(CAST(x AS DOUBLE)))) AS scale,
                           embedding
                    FROM embeddings)
         SELECT vec_id, ROUND(scale, 6) AS q_scale,
                CAST(list_sum(list_transform(embedding,
                  x -> round(CAST(x AS DOUBLE) * scale))) AS BIGINT) AS q_sum,
                TRUE AS err_in_bound
         FROM q ORDER BY vec_id""",

    // codebooks are trained from the data, so SQL can't reproduce them;
    // the oracle stipulates the two literal bounds (in-range codes, mean
    // reconstruction cosine ≥ 0.5) and cross-checks the corpus count
    "q_pq_quantize" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
                TRUE AS codes_in_range, TRUE AS recon_ok
         FROM embeddings""",

    "q_salted_join" ->
      """SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_type ORDER BY p_type""",

    "q_distinct_two_phase" ->
      """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_user_id
         FROM events GROUP BY event_type ORDER BY event_type""",

    // the bloom prune is result-transparent: the oracle is the PLAIN join
    "q_bloom_prune_join" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size <= 2
         GROUP BY p_brand ORDER BY p_brand""",

    "q_winnow_fingerprints" ->
      """WITH pos AS (
           SELECT doc_id, i,
                  CAST(('0x' || substring(md5(substring(text, CAST(i AS INT), 8)), 1, 15)) AS BIGINT) AS h
           FROM documents, (SELECT unnest(generate_series(1, 2000)) AS i)
           WHERE i <= length(text) - 8 + 1),
         wmin AS (
           SELECT doc_id,
                  MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fingerprint
           FROM pos),
         fp AS (SELECT DISTINCT doc_id, fingerprint FROM wmin)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
                MIN(fingerprint) AS min_fp, MAX(fingerprint) AS max_fp
         FROM fp GROUP BY doc_id ORDER BY doc_id""",

    // ---- round-14 statistics wave --------------------------------------------

    // Somers' D off the kendall-tau concordance chain: asymmetric
    // denominators (pairs untied on the predictor)
    "q_somers_d" ->
      """WITH b AS (SELECT l_quantity AS x, l_linenumber AS y FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
              cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
              mx AS (SELECT x, CAST(SUM(n) AS BIGINT) AS cx FROM cells GROUP BY x),
              my AS (SELECT y, CAST(SUM(n) AS BIGINT) AS cy FROM cells GROUP BY y),
              grid AS (SELECT mx.x, my.y, mx.cx, COALESCE(cells.n, 0) AS n
                       FROM mx CROSS JOIN my
                       LEFT JOIN cells ON cells.x = mx.x AND cells.y = my.y),
              g2 AS (SELECT x, y, cx, n,
                            COALESCE(SUM(n) OVER (PARTITION BY x ORDER BY y ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb
                     FROM grid),
              g3 AS (SELECT x, y, n,
                            COALESCE(SUM(bb) OVER wr, 0) AS p,
                            COALESCE(SUM(n) OVER wr, 0) AS r,
                            COALESCE(SUM(cx) OVER wr, 0) AS cxp
                     FROM g2
                     WINDOW wr AS (PARTITION BY y ORDER BY x ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              m AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                           SUM(CAST(n AS HUGEINT) * p) AS c,
                           SUM(CAST(n AS HUGEINT) * (cxp - p - r)) AS d
                    FROM g3),
              tx AS (SELECT SUM(CAST(cx AS HUGEINT) * (cx - 1)) AS tx2 FROM mx),
              ty AS (SELECT SUM(CAST(cy AS HUGEINT) * (cy - 1)) AS ty2 FROM my)
         SELECT n, CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
                CASE WHEN CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS DOUBLE) > 0
                     THEN ROUND(CAST(c - d AS DOUBLE) * 2 /
                                CAST(CAST(n AS HUGEINT) * (n - 1) - tx2 AS DOUBLE), 8)
                END AS d_y_given_x,
                CASE WHEN CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS DOUBLE) > 0
                     THEN ROUND(CAST(c - d AS DOUBLE) * 2 /
                                CAST(CAST(n AS HUGEINT) * (n - 1) - ty2 AS DOUBLE), 8)
                END AS d_x_given_y
         FROM m CROSS JOIN tx CROSS JOIN ty""",

    // GK lambda: modal-prediction gain in each direction, all-integer
    // until the final divisions
    "q_gk_lambda" ->
      """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                               CAST(COUNT(*) AS BIGINT) AS o
                        FROM orders
                        WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
                        GROUP BY 1, 2),
              rm AS (SELECT CAST(SUM(m) AS BIGINT) AS sma
                     FROM (SELECT a, MAX(o) AS m FROM cells GROUP BY a)),
              cm AS (SELECT CAST(SUM(m) AS BIGINT) AS smb
                     FROM (SELECT b, MAX(o) AS m FROM cells GROUP BY b)),
              ma AS (SELECT CAST(MAX(ca) AS BIGINT) AS gma, CAST(SUM(ca) AS BIGINT) AS n
                     FROM (SELECT a, SUM(o) AS ca FROM cells GROUP BY a)),
              mb AS (SELECT CAST(MAX(cb) AS BIGINT) AS gmb
                     FROM (SELECT b, SUM(o) AS cb FROM cells GROUP BY b))
         SELECT n,
                CASE WHEN CAST(n - gmb AS DOUBLE) > 0
                     THEN ROUND(CAST(sma - gmb AS DOUBLE) / CAST(n - gmb AS DOUBLE), 8)
                END AS lambda_b_given_a,
                CASE WHEN CAST(n - gma AS DOUBLE) > 0
                     THEN ROUND(CAST(smb - gma AS DOUBLE) / CAST(n - gma AS DOUBLE), 8)
                END AS lambda_a_given_b
         FROM ma CROSS JOIN mb CROSS JOIN rm CROSS JOIN cm""",

    // Theil's U: MI and both marginal entropies with 8dp decimal terms
    // (the mutual_info discipline), U = MI / H per direction
    "q_theils_u" ->
      """WITH obs AS (SELECT lang AS a, source AS b, CAST(COUNT(*) AS BIGINT) AS o
                      FROM documents
                      WHERE lang IS NOT NULL AND source IS NOT NULL
                      GROUP BY 1, 2),
              ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
              rb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS rb FROM obs GROUP BY b),
              tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
              ha AS (SELECT GREATEST(ROUND(CAST(-SUM(t) AS DOUBLE), 6), 0.0) AS h_a
                     FROM (SELECT CAST(ROUND(CAST(ra AS DOUBLE) / n *
                                   LN(CAST(ra AS DOUBLE) / n), 8) AS DECIMAL(20,8)) AS t
                           FROM ra CROSS JOIN tot)),
              hb AS (SELECT GREATEST(ROUND(CAST(-SUM(t) AS DOUBLE), 6), 0.0) AS h_b
                     FROM (SELECT CAST(ROUND(CAST(rb AS DOUBLE) / n *
                                   LN(CAST(rb AS DOUBLE) / n), 8) AS DECIMAL(20,8)) AS t
                           FROM rb CROSS JOIN tot)),
              mi AS (SELECT n, GREATEST(ROUND(CAST(SUM(t) AS DOUBLE), 6), 0.0) AS mi
                     FROM (SELECT n,
                                  CAST(ROUND(CAST(o AS DOUBLE) / n *
                                    LN(CAST(o AS DOUBLE) * n / (CAST(ra AS DOUBLE) * rb)), 8)
                                    AS DECIMAL(20,8)) AS t
                           FROM obs JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot)
                     GROUP BY n)
         SELECT n, h_a, h_b, mi,
                CASE WHEN h_b > 0 THEN ROUND(mi / h_b, 8) END AS u_b_given_a,
                CASE WHEN h_a > 0 THEN ROUND(mi / h_a, 8) END AS u_a_given_b
         FROM mi CROSS JOIN ha CROSS JOIN hb""",

    // Kendall's W: friedman's Q chain, normalized by m(k-1) off the
    // same 6dp-pinned Q
    "q_kendall_w" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, event_type AS et,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
                        GROUP BY 1, 2),
              days AS (SELECT DISTINCT day FROM daily),
              types AS (SELECT DISTINCT et FROM daily),
              dense AS (SELECT days.day, types.et, COALESCE(daily.cnt, 0) AS cnt
                        FROM days CROSS JOIN types
                        LEFT JOIN daily ON daily.day = days.day AND daily.et = types.et),
              kk AS (SELECT CAST(COUNT(DISTINCT et) AS BIGINT) AS k FROM dense),
              ranked AS (SELECT day, et, cnt,
                                (CAST(RANK() OVER (PARTITION BY day ORDER BY CAST(cnt AS DOUBLE) ASC) AS BIGINT) - 1) * 2
                                  + COUNT(*) OVER (PARTITION BY day, cnt) + 1 AS r2
                         FROM dense),
              byt AS (SELECT et, CAST(SUM(r2) AS BIGINT) AS rr2, CAST(COUNT(*) AS BIGINT) AS nb
                      FROM ranked GROUP BY et),
              ties AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tiemass
                       FROM (SELECT day, cnt, CAST(COUNT(*) AS BIGINT) AS t FROM ranked GROUP BY 1, 2)),
              sb AS (SELECT nb, k,
                            SUM((CAST(rr2 AS HUGEINT) - CAST(nb AS HUGEINT) * (k + 1)) *
                                (CAST(rr2 AS HUGEINT) - CAST(nb AS HUGEINT) * (k + 1))) AS sd2
                     FROM byt CROSS JOIN kk GROUP BY nb, k),
              f AS (SELECT nb, k,
                           ROUND(3.0 * CAST(sd2 AS DOUBLE) / (CAST(nb AS DOUBLE) * k * (k + 1.0)), 6) AS q,
                           CASE WHEN 1.0 - CAST(tiemass AS DOUBLE) /
                                         (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0)) > 0
                                THEN ROUND(3.0 * CAST(sd2 AS DOUBLE) / (CAST(nb AS DOUBLE) * k * (k + 1.0)) /
                                           (1.0 - CAST(tiemass AS DOUBLE) /
                                             (CAST(nb AS DOUBLE) * k * (CAST(k AS DOUBLE) * k - 1.0))), 6)
                           END AS q_tie_adj
                    FROM sb CROSS JOIN ties WHERE nb > 0 AND k > 1)
         SELECT nb AS n_blocks, k,
                CASE WHEN CAST(nb * (k - 1) AS DOUBLE) > 0
                     THEN ROUND(q / CAST(nb * (k - 1) AS DOUBLE), 8) END AS w,
                CASE WHEN CAST(nb * (k - 1) AS DOUBLE) > 0 AND q_tie_adj IS NOT NULL
                     THEN ROUND(q_tie_adj / CAST(nb * (k - 1) AS DOUBLE), 8) END AS w_tie_adj
         FROM f""",

    // Cochran's Q: all-integer C/R rollups into one division; absent
    // (user, type) cells are failures by construction
    "q_cochran_q" ->
      """WITH cells AS (SELECT user_id AS b, event_type AS t,
                               CAST(MAX(CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
                        FROM events
                        WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1, 2),
              kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM cells),
              bt AS (SELECT CAST(SUM(cj) AS BIGINT) AS nn,
                            SUM(CAST(cj AS HUGEINT) * cj) AS sc2
                     FROM (SELECT t, SUM(x) AS cj FROM cells GROUP BY t)),
              bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
                            SUM(CAST(ri AS HUGEINT) * ri) AS sr2
                     FROM (SELECT b, SUM(x) AS ri FROM cells GROUP BY b))
         SELECT n_blocks, k, nn AS n_success,
                CASE WHEN CAST(k * nn - sr2 AS DOUBLE) > 0
                     THEN ROUND(CAST((k - 1) * (k * sc2 - CAST(nn AS HUGEINT) * nn) AS DOUBLE) /
                                CAST(k * nn - sr2 AS DOUBLE), 6)
                END AS q
         FROM bb CROSS JOIN bt CROSS JOIN kk WHERE k > 1""",

    // Fleiss' kappa over 4-line orders: per-item agreement vs squared
    // category shares, exact integers until the final chain
    "q_fleiss_kappa" ->
      """WITH cells AS (SELECT l_orderkey AS i, l_returnflag AS c,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM lineitem
                        WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
                        GROUP BY 1, 2),
              keep AS (SELECT i FROM (SELECT i, SUM(n) AS mi FROM cells GROUP BY i)
                       WHERE mi = 4),
              kept AS (SELECT cells.* FROM cells JOIN keep USING (i)),
              pi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items, SUM(s2) AS ss2
                     FROM (SELECT i, SUM(CAST(n AS HUGEINT) * n) AS s2 FROM kept GROUP BY i)),
              pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_categories,
                            SUM(CAST(nc AS HUGEINT) * nc) AS snc2
                     FROM (SELECT c, SUM(n) AS nc FROM kept GROUP BY c))
         SELECT n_items, CAST(4 AS BIGINT) AS m, k_categories,
                ROUND((CAST(ss2 AS DOUBLE) - CAST(n_items AS DOUBLE) * 4.0) /
                      (CAST(n_items AS DOUBLE) * 4.0 * 3.0), 6) AS p_bar,
                ROUND(CAST(snc2 AS DOUBLE) /
                      (CAST(n_items AS DOUBLE) * 4.0 * CAST(n_items AS DOUBLE) * 4.0), 6) AS p_e,
                CASE WHEN ROUND(CAST(snc2 AS DOUBLE) /
                             (CAST(n_items AS DOUBLE) * 4.0 * CAST(n_items AS DOUBLE) * 4.0), 6) < 1.0
                     THEN ROUND(((CAST(ss2 AS DOUBLE) - CAST(n_items AS DOUBLE) * 4.0) /
                                   (CAST(n_items AS DOUBLE) * 4.0 * 3.0) -
                                 CAST(snc2 AS DOUBLE) /
                                   (CAST(n_items AS DOUBLE) * 4.0 * CAST(n_items AS DOUBLE) * 4.0)) /
                                (1.0 - CAST(snc2 AS DOUBLE) /
                                   (CAST(n_items AS DOUBLE) * 4.0 * CAST(n_items AS DOUBLE) * 4.0)), 6)
                END AS kappa
         FROM pi CROSS JOIN pc WHERE n_items > 0""",

    // RMST: q_kaplan_meier's survival chain + segment areas to day 60,
    // 8dp segment terms through decimal
    "q_rmst" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f, MAX(date_trunc('day', ts)) AS l
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              mx AS (SELECT MAX(l) AS maxd FROM u),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
                               (datediff('day', CAST(l AS DATE), CAST(maxd AS DATE)) >= 7) AS ev
                        FROM u CROSS JOIN mx),
              c AS (SELECT t, CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
                           CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
                    FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(n_events + n_censored) AS BIGINT) AS n FROM c),
              r AS (SELECT t, n_events, n_censored,
                           n - COALESCE(SUM(n_events + n_censored)
                                 OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM c CROSS JOIN tot),
              fc AS (SELECT t, n_risk, n_events, n_censored,
                            ROUND(1.0 - CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE), 8) AS fac
                     FROM r),
              s AS (SELECT t, n_events, n_censored,
                           MIN(fac) OVER wc AS minf,
                           SUM(ROUND(LN(CASE WHEN fac > 0 THEN fac ELSE 1 END), 8)) OVER wc AS lnsum
                    FROM fc
                    WINDOW wc AS (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              km AS (SELECT t, n_events, n_censored,
                            CASE WHEN minf = 0 THEN 0.0 ELSE ROUND(EXP(lnsum), 6) END AS survival
                     FROM s),
              seg AS (SELECT t, survival,
                             COALESCE(LEAD(t) OVER (ORDER BY t ASC), GREATEST(t, 60)) AS nxt
                      FROM km),
              area AS (SELECT COALESCE(SUM(CAST(ROUND(survival *
                          CAST(GREATEST(LEAST(nxt, 60) - t, 0) AS DOUBLE), 8)
                          AS DECIMAL(24,8))), 0) AS a
                       FROM seg),
              hd AS (SELECT CAST(LEAST(COALESCE(MIN(t), 0), 60) AS DOUBLE) AS lead0,
                            CAST(COALESCE(SUM(n_events + n_censored), 0) AS BIGINT) AS n
                     FROM km)
         SELECT CAST(60 AS BIGINT) AS tau, n,
                ROUND(CAST(a AS DOUBLE) + lead0, 6) AS rmst
         FROM area CROSS JOIN hd WHERE n > 0""",

    // Aalen-Johansen: all-cause KM one step back times the per-cause
    // hazard, cumulated per cause; purchase wins same-day ties
    "q_cuminc" ->
      """WITH u AS (SELECT user_id, MIN(date_trunc('day', ts)) AS f,
                           MIN(CASE WHEN event_type = 'purchase' THEN date_trunc('day', ts) END) AS p,
                           MIN(CASE WHEN event_type = 'error' THEN date_trunc('day', ts) END) AS e,
                           MAX(date_trunc('day', ts)) AS l
                    FROM events WHERE ts IS NOT NULL GROUP BY 1),
              units AS (SELECT CAST(datediff('day', CAST(f AS DATE), CAST(
                               COALESCE(CASE WHEN p IS NOT NULL AND e IS NOT NULL THEN LEAST(p, e)
                                             WHEN p IS NOT NULL THEN p ELSE e END, l) AS DATE)) AS BIGINT) AS t,
                               CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e) THEN 'purchase'
                                    WHEN e IS NOT NULL THEN 'error' END AS c
                        FROM u),
              byt AS (SELECT t,
                             CAST(SUM(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d,
                             CAST(SUM(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS cens
                      FROM units GROUP BY t),
              tot AS (SELECT CAST(SUM(d + cens) AS BIGINT) AS n FROM byt),
              r AS (SELECT t, d,
                           n - COALESCE(SUM(d + cens)
                                 OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
                    FROM byt CROSS JOIN tot),
              fc AS (SELECT t, n_risk,
                            ROUND(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 8) AS fac
                     FROM r),
              sp AS (SELECT t, n_risk,
                            ROUND(EXP(COALESCE(SUM(ROUND(LN(CASE WHEN fac > 0 THEN fac ELSE 1.0 END), 8))
                              OVER (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)), 8) AS sprev
                     FROM fc),
              dc AS (SELECT t, c AS cause, CAST(COUNT(*) AS BIGINT) AS n_events
                     FROM units WHERE c IS NOT NULL GROUP BY 1, 2),
              j AS (SELECT dc.t, cause, sp.n_risk, n_events,
                           CAST(ROUND(sprev * CAST(n_events AS DOUBLE) / CAST(sp.n_risk AS DOUBLE), 8)
                             AS DECIMAL(24,8)) AS inc
                    FROM dc JOIN sp ON sp.t = dc.t)
         SELECT t, cause, CAST(n_risk AS BIGINT) AS n_risk, n_events,
                ROUND(CAST(SUM(inc) OVER (PARTITION BY cause ORDER BY t ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS cif
         FROM j ORDER BY t, cause""",

    // Theil decomposition: within = Σ share·T_g, between = Σ share·ln
    // share-ratio, 8dp terms through decimal at both levels
    "q_theil_decomp" ->
      """WITH base AS (SELECT g, x FROM (SELECT o_orderpriority AS g,
                               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                        FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL)
                       WHERE x IS NOT NULL AND x > 0),
              gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                            SUM(CAST(x AS HUGEINT)) AS sg
                     FROM base GROUP BY g),
              tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
                             CAST(COUNT(*) AS BIGINT) AS k_groups FROM gs),
              w1 AS (SELECT g, SUM(t) AS tg2
                     FROM (SELECT b.g,
                                  CAST(ROUND((CAST(b.x AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(sg AS DOUBLE)) *
                                    LN(CAST(b.x AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(sg AS DOUBLE)), 8)
                                    AS DECIMAL(24,8)) AS t
                           FROM base b JOIN gs USING (g))
                     GROUP BY g),
              win AS (SELECT COALESCE(SUM(CAST(ROUND((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)) *
                             (CAST(tg2 AS DOUBLE) / CAST(ng AS DOUBLE)), 8) AS DECIMAL(24,8))), 0) AS w
                      FROM w1 JOIN gs USING (g) CROSS JOIN tot),
              btw AS (SELECT COALESCE(SUM(CAST(ROUND((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)) *
                             LN(CAST(sg AS DOUBLE) * CAST(n AS DOUBLE) /
                               (CAST(s AS DOUBLE) * CAST(ng AS DOUBLE))), 8) AS DECIMAL(24,8))), 0) AS bt
                      FROM gs CROSS JOIN tot)
         SELECT n, k_groups,
                ROUND(CAST(w AS DOUBLE), 6) AS theil_within,
                ROUND(CAST(bt AS DOUBLE), 6) AS theil_between,
                ROUND(CAST(w + bt AS DOUBLE), 6) AS theil_total
         FROM tot CROSS JOIN win CROSS JOIN btw WHERE n > 0""",

    // Atkinson (eps=1): 1 - geomean/mean off 8dp decimal log sums
    "q_atkinson" ->
      """WITH base AS (SELECT g, x FROM (SELECT o_orderpriority AS g,
                               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                        FROM orders WHERE o_totalprice IS NOT NULL)
                       WHERE x IS NOT NULL AND x > 0),
              gr AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                            SUM(CAST(x AS HUGEINT)) AS s,
                            SUM(CAST(ROUND(LN(CAST(x AS DOUBLE)), 8) AS DECIMAL(24,8))) AS sl
                     FROM base GROUP BY g)
         SELECT g AS o_orderpriority, n,
                ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean,
                ROUND(1.0 - EXP(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)) /
                      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS atkinson
         FROM gr ORDER BY o_orderpriority""",

    // Murphy decomposition of q_brier's logistic score: binned
    // reliability/resolution vs the base rate, 8dp decimal terms
    "q_brier_decomp" ->
      """WITH f AS (SELECT ROUND(1.0 / (1.0 + EXP(-((value - 50.0) / 25.0))), 6) AS p,
                           (event_type = 'purchase') AS y
                    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
              b AS (SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
                           CAST(ROUND(p, 8) AS DECIMAL(28,8)) AS pp,
                           CASE WHEN y THEN 1 ELSE 0 END AS yy
                    FROM f),
              bb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb, SUM(pp) AS sp,
                            CAST(SUM(yy) AS BIGINT) AS pos
                     FROM b GROUP BY bin),
              tot AS (SELECT CAST(SUM(nb) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS ny FROM bb),
              t AS (SELECT n, ny,
                           CAST(ROUND(CAST(nb AS DOUBLE) *
                             (CAST(sp AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)) *
                             (CAST(sp AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE)), 8)
                             AS DECIMAL(28,8)) AS rel,
                           CAST(ROUND(CAST(nb AS DOUBLE) *
                             (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) *
                             (CAST(pos AS DOUBLE) / CAST(nb AS DOUBLE) - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 8)
                             AS DECIMAL(28,8)) AS res
                    FROM bb CROSS JOIN tot)
         SELECT n, CAST(COUNT(*) AS BIGINT) AS bins,
                ROUND(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE), 8) AS base_rate,
                ROUND(CAST(SUM(rel) AS DOUBLE) / CAST(n AS DOUBLE), 8) AS reliability,
                ROUND(CAST(SUM(res) AS DOUBLE) / CAST(n AS DOUBLE), 8) AS resolution,
                ROUND((CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) *
                      (1.0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 8) AS uncertainty,
                ROUND(CAST(SUM(rel) AS DOUBLE) / CAST(n AS DOUBLE) -
                      CAST(SUM(res) AS DOUBLE) / CAST(n AS DOUBLE) +
                      (CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) *
                      (1.0 - CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)), 8) AS brier_binned
         FROM t GROUP BY n, ny""",

    // Ljung-Box: q_acf's moment chain at 7 lags, rho^2/(n-k) terms 8dp
    // through decimal into n(n+2)*sum
    "q_ljung_box" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(COUNT(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(y) AS BIGINT) AS sm,
                           SUM(CAST(y AS HUGEINT) * y) AS syy
                    FROM s),
              p AS (SELECT ll.l AS lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                           CAST(SUM(a.y) AS BIGINT) AS sa,
                           CAST(SUM(bb.y) AS BIGINT) AS sb,
                           SUM(CAST(a.y AS HUGEINT) * bb.y) AS sab
                    FROM s a
                    CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS l) ll
                    JOIN s bb ON bb.idx = a.idx + ll.l
                    GROUP BY ll.l),
              rho AS (SELECT CAST(lag + n_pairs AS BIGINT) AS nn, n_pairs,
                             CASE WHEN (CAST(syy AS DOUBLE) - (CAST(sm AS DOUBLE) / n) * sm) > 0.0
                                  THEN ROUND((CAST(sab AS DOUBLE)
                                              - (CAST(sm AS DOUBLE) / n) * (sa + sb)
                                              + n_pairs * (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))
                                             / (CAST(syy AS DOUBLE) - (CAST(sm AS DOUBLE) / n) * sm), 6)
                             END AS acfv
                      FROM p CROSS JOIN t),
              terms AS (SELECT nn, acfv,
                               CAST(ROUND(acfv * acfv / CAST(n_pairs AS DOUBLE), 8)
                                 AS DECIMAL(24,8)) AS tt
                        FROM rho)
         SELECT nn AS n_days, CAST(COUNT(*) AS BIGINT) AS h,
                CASE WHEN COUNT(acfv) = COUNT(*)
                     THEN ROUND(CAST(nn AS DOUBLE) * CAST(nn + 2 AS DOUBLE) *
                                CAST(SUM(tt) AS DOUBLE), 6)
                END AS q_stat
         FROM terms GROUP BY nn""",

    // KPSS: exact integer E_t = n*y - s, decimal partial sums and
    // Bartlett-weighted lag cross-terms, one pinned final chain
    "q_kpss" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(COUNT(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sm FROM s),
              e AS (SELECT idx, n, CAST(n AS HUGEINT) * y - sm AS ee
                    FROM s CROSS JOIN t),
              c AS (SELECT MAX(n) AS n,
                           SUM(ee * ee) AS se2,
                           SUM(sp * sp) AS ss2
                    FROM (SELECT n, ee,
                                 SUM(ee) OVER (ORDER BY idx ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp
                          FROM e)),
              lg AS (SELECT COALESCE(SUM(CAST(ROUND((1.0 - CAST(l AS DOUBLE) / 8.0) *
                            CAST(g AS DOUBLE), 4) AS DECIMAL(38,4))), 0) AS swg
                     FROM (SELECT ll.l, SUM(a.ee * bb.ee) AS g
                           FROM e a
                           CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS l) ll
                           JOIN e bb ON bb.idx = a.idx + ll.l
                           GROUP BY ll.l))
         SELECT n AS n_days, CAST(7 AS BIGINT) AS bandwidth,
                CASE WHEN CAST(se2 AS DOUBLE) + CAST(swg AS DOUBLE) * 2.0 > 0
                     THEN ROUND(CAST(ss2 AS DOUBLE) /
                            (CAST(n AS DOUBLE) * (CAST(se2 AS DOUBLE) + CAST(swg AS DOUBLE) * 2.0)), 6)
                END AS eta,
                CASE WHEN CAST(se2 AS DOUBLE) + CAST(swg AS DOUBLE) * 2.0 > 0
                     THEN ROUND(CAST(ss2 AS DOUBLE) /
                            (CAST(n AS DOUBLE) * (CAST(se2 AS DOUBLE) + CAST(swg AS DOUBLE) * 2.0)), 6) <= 0.463
                END AS level_stationary
         FROM c CROSS JOIN lg WHERE n > 1""",

    // periodogram: integer-reduced cos/sin args, 4dp decimal term sums,
    // power = 2(a^2+b^2)/(n*SumE^2) per candidate period
    "q_dominant_cycle" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(COUNT(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sm FROM s),
              e AS (SELECT idx, n, CAST(n AS HUGEINT) * y - sm AS ee
                    FROM s CROSS JOIN t),
              byp AS (SELECT p, MAX(n) AS n,
                             SUM(CAST(ROUND(CAST(ee AS DOUBLE) *
                               COS(2 * PI() * (idx % p) / p), 4) AS DECIMAL(38,4))) AS sa,
                             SUM(CAST(ROUND(CAST(ee AS DOUBLE) *
                               SIN(2 * PI() * (idx % p) / p), 4) AS DECIMAL(38,4))) AS sb,
                             SUM(ee * ee) AS se2
                      FROM e CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p)
                      GROUP BY p),
              pw AS (SELECT CAST(p AS BIGINT) AS period,
                            CASE WHEN CAST(se2 AS DOUBLE) > 0
                                 THEN ROUND((CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) +
                                             CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) * 2.0 /
                                            (CAST(n AS DOUBLE) * CAST(se2 AS DOUBLE)), 6)
                            END AS power
                     FROM byp),
              mxp AS (SELECT MAX(power) AS m FROM pw)
         SELECT period, power,
                (power IS NOT NULL AND power = m) AS is_dominant
         FROM pw CROSS JOIN mxp ORDER BY period""",

    // Chatterjee's xi: tie-inclusive RANGE rank maps on the daily
    // cents grid, adjacent-jump sum, one exact division
    "q_chatterjee_xi" ->
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
                               COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS y
                        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
              rk AS (SELECT idx, y, n,
                            COUNT(*) OVER (ORDER BY y ASC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r,
                            COUNT(*) OVER (ORDER BY y ASC RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS l
                     FROM s CROSS JOIN t),
              rr AS (SELECT n, r, l, LEAD(r) OVER (ORDER BY idx ASC) AS rn FROM rk),
              m AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
                           SUM(CAST(CASE WHEN rn IS NOT NULL THEN ABS(rn - r) ELSE 0 END AS HUGEINT)) AS sd,
                           SUM(CAST(l AS HUGEINT) * (n - l)) AS sl
                    FROM rr)
         SELECT n AS n_days,
                CASE WHEN CAST(sl AS DOUBLE) > 0
                     THEN ROUND(1.0 - CAST(n AS DOUBLE) * CAST(sd AS DOUBLE) /
                                (2.0 * CAST(sl AS DOUBLE)), 6)
                END AS xi
         FROM m WHERE n > 1""",

    // Jarque-Bera: two anchored passes — pinned integer anchor
    // mu = floor(sum(x)/n as doubles), exact integer deviation sums
    // d..d^4 (spread-bounded, never magnitude-bounded — the r16 scale
    // audit caught the raw-power identity overflowing DECIMAL(38) at 6M
    // rows), then one pinned double chain for the delta-corrected
    // central sums and S = sqrt(n)*M3/M2^1.5, K = n*M4/M2^2
    "q_jarque_bera" ->
      """WITH base AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
                       FROM events WHERE value IS NOT NULL),
              s0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                            SUM(CAST(x AS HUGEINT)) AS s1
                     FROM base),
              anch AS (SELECT n,
                              CAST(FLOOR(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mu
                       FROM s0),
              m AS (SELECT a.n,
                           SUM(CAST(b.x - a.mu AS HUGEINT)) AS d1,
                           SUM(CAST(b.x - a.mu AS HUGEINT) * (b.x - a.mu)) AS d2,
                           SUM(CAST(b.x - a.mu AS HUGEINT) * (b.x - a.mu) * (b.x - a.mu)) AS d3,
                           SUM(CAST(b.x - a.mu AS HUGEINT) * (b.x - a.mu) * (b.x - a.mu) * (b.x - a.mu)) AS d4
                    FROM base b CROSS JOIN anch a GROUP BY a.n),
              c AS (SELECT n,
                           CAST(d1 AS DOUBLE) / CAST(n AS DOUBLE) AS delta,
                           CAST(d2 AS DOUBLE) AS d2d,
                           CAST(d3 AS DOUBLE) AS d3d,
                           CAST(d4 AS DOUBLE) AS d4d
                    FROM m),
              cm AS (SELECT n,
                            d2d - CAST(n AS DOUBLE) * delta * delta AS m2,
                            d3d - 3.0 * delta * d2d
                              + 2.0 * CAST(n AS DOUBLE) * delta * delta * delta AS m3,
                            d4d - 4.0 * delta * d3d + 6.0 * delta * delta * d2d
                              - 3.0 * CAST(n AS DOUBLE) * delta * delta * delta * delta AS m4
                     FROM c)
         SELECT n,
                CASE WHEN m2 > 0
                     THEN ROUND(SQRT(CAST(n AS DOUBLE)) * m3 / POWER(m2, 1.5), 6) END AS skewness,
                CASE WHEN m2 > 0
                     THEN ROUND(CAST(n AS DOUBLE) * m4 / (m2 * m2), 6) END AS kurtosis,
                CASE WHEN m2 > 0
                     THEN ROUND(CAST(n AS DOUBLE) / 6.0 *
                            (SQRT(CAST(n AS DOUBLE)) * m3 / POWER(m2, 1.5) * (SQRT(CAST(n AS DOUBLE)) * m3 / POWER(m2, 1.5))
                             + (CAST(n AS DOUBLE) * m4 / (m2 * m2) - 3.0)
                               * (CAST(n AS DOUBLE) * m4 / (m2 * m2) - 3.0) / 4.0), 6) END AS jb
         FROM cm WHERE n > 1""",

    // TVD/Bhattacharyya/Hellinger over the union lang support of two
    // sources: 8dp decimal terms, BC clamped at 1 before the sqrt
    "q_dist_distance" ->
      """WITH counts AS (SELECT lang AS c,
                                CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                                CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                         FROM documents
                         WHERE (source = 'src0' OR source = 'src1') AND lang IS NOT NULL
                         GROUP BY lang),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM counts),
              tm AS (SELECT na, nb,
                            CAST(ROUND(ABS(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb), 8) AS DECIMAL(24,8)) AS tv,
                            CAST(ROUND(SQRT((CAST(ca AS DOUBLE) / na) * (CAST(cb AS DOUBLE) / nb)), 8) AS DECIMAL(24,8)) AS bc
                     FROM counts CROSS JOIN tot WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b, CAST(COUNT(*) AS BIGINT) AS n_cats,
                ROUND(CAST(SUM(tv) AS DOUBLE) / 2.0, 6) AS tvd,
                ROUND(LEAST(CAST(SUM(bc) AS DOUBLE), 1.0), 6) AS bhattacharyya,
                ROUND(SQRT(GREATEST(0.0, 1.0 - LEAST(CAST(SUM(bc) AS DOUBLE), 1.0))), 6) AS hellinger
         FROM tm GROUP BY na, nb""",

    // Hodges-Lehmann: weighted median of the support-grid differences,
    // lower/upper middle averaged — all-integer until one division
    "q_hl_shift" ->
      """WITH kept AS (SELECT CAST(ROUND(value, 0) AS DOUBLE) AS v, (event_type = 'purchase') AS a
                       FROM events
                       WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              sa AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ca FROM kept WHERE a GROUP BY v),
              sb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cb FROM kept WHERE NOT a GROUP BY v),
              diffs AS (SELECT ROUND(sa.v - sb.v, 8) AS d, SUM(CAST(ca AS HUGEINT) * cb) AS w
                        FROM sa CROSS JOIN sb GROUP BY 1),
              cum AS (SELECT d, SUM(w) OVER (ORDER BY d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
                      FROM diffs),
              tot AS (SELECT MAX(cm) AS w FROM cum),
              lo AS (SELECT MIN(d) AS lo FROM cum CROSS JOIN tot WHERE cm * 2 >= w + (w % 2)),
              hi AS (SELECT MIN(d) AS hi FROM cum CROSS JOIN tot WHERE cm * 2 >= w + 2 - (w % 2)),
              sz AS (SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                            CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                     FROM kept)
         SELECT n_a, n_b, CAST(w AS BIGINT) AS n_pairs,
                ROUND((lo + hi) / 2.0, 6) AS hl_shift
         FROM sz CROSS JOIN tot CROSS JOIN lo CROSS JOIN hi
         WHERE n_a > 0 AND n_b > 0""",

    // Mood's scale test: doubled mid-ranks, exact (r2-(n+1))^2 sums,
    // classical no-ties moments for z
    "q_mood_scale" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              c AS (SELECT v, CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY v),
              r AS (SELECT ca, cb,
                           COALESCE(SUM(ca + cb) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + (ca + cb) + 1 AS r2
                    FROM c),
              tt AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c),
              m AS (SELECT na, nb,
                           SUM(CAST(ca AS HUGEINT) *
                               (CAST(r2 AS HUGEINT) - (na + nb + 1)) *
                               (CAST(r2 AS HUGEINT) - (na + nb + 1))) AS sm4
                    FROM r CROSS JOIN tt GROUP BY na, nb),
              e AS (SELECT na, nb, CAST(sm4 AS DOUBLE) / 4.0 AS ms,
                           CAST(na AS DOUBLE) * (CAST(na + nb AS DOUBLE) * (na + nb) - 1.0) / 12.0 AS ev,
                           CAST(na AS DOUBLE) * nb * (CAST(na + nb AS DOUBLE) + 1.0) *
                             (CAST(na + nb AS DOUBLE) * (na + nb) - 4.0) / 180.0 AS vv
                    FROM m WHERE na > 0 AND nb > 0)
         SELECT na AS n_a, nb AS n_b, ROUND(ms, 2) AS m_stat,
                CASE WHEN vv > 0 THEN ROUND((ms - ev) / SQRT(vv), 6) END AS z,
                CASE WHEN vv <= 0 THEN 'none'
                     WHEN ms > ev THEN 'wider'
                     WHEN ms < ev THEN 'narrower'
                     ELSE 'none' END AS direction
         FROM e""",

    // Kuiper: signed CDF gaps over the binned support, V = D+ + D-
    "q_kuiper" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL),
              c AS (SELECT v, CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY v),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM c),
              gp AS (SELECT na, nb,
                            ROUND(CAST(SUM(ca) OVER w AS DOUBLE) / na -
                                  CAST(SUM(cb) OVER w AS DOUBLE) / nb, 8) AS g
                     FROM c CROSS JOIN tot
                     WHERE na > 0 AND nb > 0
                     WINDOW w AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT na AS n_a, nb AS n_b,
                GREATEST(MAX(g), 0.0) AS d_plus,
                GREATEST(-MIN(g), 0.0) AS d_minus,
                ROUND(GREATEST(MAX(g), 0.0) + GREATEST(-MIN(g), 0.0), 8) AS v_stat
         FROM gp GROUP BY na, nb""",

    // Fano factor per event type on the dense type x day grid (gap
    // days are true zeros); exact integer variance identity
    "q_fano_factor" ->
      """WITH cells AS (SELECT event_type AS g, date_trunc('day', ts) AS u,
                               CAST(COUNT(*) AS BIGINT) AS c
                        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
                        GROUP BY 1, 2),
              gs AS (SELECT DISTINCT g FROM cells),
              us AS (SELECT DISTINCT u FROM cells),
              dense AS (SELECT gs.g, us.u, COALESCE(cells.c, 0) AS c
                        FROM gs CROSS JOIN us
                        LEFT JOIN cells ON cells.g = gs.g AND cells.u = us.u),
              agg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                             SUM(CAST(c AS HUGEINT)) AS s,
                             SUM(CAST(c AS HUGEINT) * c) AS s2
                      FROM dense GROUP BY g)
         SELECT g AS event_type, n AS n_units,
                ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_count,
                CASE WHEN n > 1
                     THEN ROUND(CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE) /
                            (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6) END AS variance,
                CASE WHEN n > 1 AND CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
                     THEN ROUND(CAST(CAST(n AS HUGEINT) * s2 - s * s AS DOUBLE) /
                            (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) /
                            (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) END AS dispersion
         FROM agg ORDER BY event_type""",

    // Quade: friedman's within-block doubled ranks x block-range
    // doubled ranks; F = (b-1)*SumTj^2 / (b*SumT^2 - SumTj^2), exact
    "q_quade" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, event_type AS et,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
                        GROUP BY 1, 2),
              days AS (SELECT DISTINCT day FROM daily),
              types AS (SELECT DISTINCT et FROM daily),
              dense AS (SELECT days.day, types.et, COALESCE(daily.cnt, 0) AS cnt
                        FROM days CROSS JOIN types
                        LEFT JOIN daily ON daily.day = days.day AND daily.et = types.et),
              kk AS (SELECT CAST(COUNT(DISTINCT et) AS BIGINT) AS k FROM dense),
              ranked AS (SELECT day, et, cnt,
                                (CAST(RANK() OVER (PARTITION BY day ORDER BY CAST(cnt AS DOUBLE) ASC) AS BIGINT) - 1) * 2
                                  + COUNT(*) OVER (PARTITION BY day, cnt) + 1 AS r2
                         FROM dense),
              rng AS (SELECT day, MAX(CAST(cnt AS DOUBLE)) - MIN(CAST(cnt AS DOUBLE)) AS rg
                      FROM ranked GROUP BY day),
              wts AS (SELECT day,
                             (CAST(RANK() OVER (ORDER BY rg ASC) AS BIGINT) - 1) * 2
                               + COUNT(*) OVER (PARTITION BY rg) + 1 AS q2
                      FROM rng),
              sc AS (SELECT r.et, k, CAST(q2 AS HUGEINT) * (r2 - (k + 1)) AS t
                     FROM ranked r JOIN wts USING (day) CROSS JOIN kk),
              byt AS (SELECT et, k, SUM(t) AS tj, SUM(t * t) AS t2,
                             CAST(COUNT(*) AS BIGINT) AS b
                      FROM sc GROUP BY et, k),
              m AS (SELECT k, b, SUM(tj * tj) AS stj2, SUM(t2) AS st2
                    FROM byt GROUP BY k, b)
         SELECT b AS n_blocks, k,
                CASE WHEN CAST(b * st2 - stj2 AS DOUBLE) > 0
                     THEN ROUND(CAST((b - 1) * stj2 AS DOUBLE) /
                                CAST(b * st2 - stj2 AS DOUBLE), 6) END AS f_stat
         FROM m WHERE k > 1 AND b > 0""",

    // runs test on the daily order-revenue grid: exact lower/upper
    // median, sign sequence, run count, classical moments
    "q_runs_test" ->
      """WITH daily AS (SELECT date_trunc('day', o_orderdate) AS day,
                               COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS y
                        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
              rk AS (SELECT idx, y, n,
                            COUNT(*) OVER (ORDER BY y ASC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                     FROM s CROSS JOIN t),
              lo AS (SELECT MIN(y) AS lo FROM rk WHERE cum * 2 >= n + (n % 2)),
              hi AS (SELECT MIN(y) AS hi FROM rk WHERE cum * 2 >= n + 2 - (n % 2)),
              md AS (SELECT CAST(lo + hi AS DOUBLE) / 2.0 AS med FROM lo CROSS JOIN hi),
              sg AS (SELECT idx, (CAST(y AS DOUBLE) > med) AS sgn
                     FROM s CROSS JOIN md WHERE CAST(y AS DOUBLE) <> med),
              rn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
                            CAST(SUM(CASE WHEN sgn THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
                            CAST(SUM(CASE WHEN NOT sgn THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
                            CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> sgn THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
                     FROM (SELECT sgn, LAG(sgn) OVER (ORDER BY idx ASC) AS prev FROM sg)),
              e AS (SELECT n_used, n_above, n_below, runs,
                           CAST(n_above AS DOUBLE) * n_below * 2.0 / (n_above + n_below) + 1.0 AS ev,
                           CAST(n_above AS DOUBLE) * n_below * 2.0 *
                             (CAST(n_above AS DOUBLE) * n_below * 2.0 - (n_above + n_below)) /
                             (CAST(n_above + n_below AS DOUBLE) * (n_above + n_below) * (CAST(n_above + n_below AS DOUBLE) - 1.0)) AS vv
                    FROM rn WHERE n_above > 0 AND n_below > 0)
         SELECT n_used, n_above, n_below, runs,
                CASE WHEN vv > 0 THEN ROUND((runs - ev) / SQRT(vv), 6) END AS z,
                CASE WHEN vv <= 0 THEN 'none'
                     WHEN (runs - ev) / SQRT(vv) < -1.96 THEN 'clustered'
                     WHEN (runs - ev) / SQRT(vv) > 1.96 THEN 'alternating'
                     ELSE 'none' END AS verdict
         FROM e""",

    // directed association rules over the shared basket frame:
    // support/confidence/lift/leverage/conviction, exact count inputs
    "q_basket_rules" ->
      """WITH li AS (SELECT DISTINCT l.l_orderkey AS ok, string_split(p.p_type, ' ')[1] AS ptype
                     FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
              single AS (SELECT ptype, CAST(COUNT(*) AS BIGINT) AS na FROM li GROUP BY ptype),
              tot AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n FROM li),
              pr AS (SELECT a.ptype AS antecedent, b.ptype AS consequent,
                            CAST(COUNT(*) AS BIGINT) AS nab
                     FROM li a JOIN li b ON a.ok = b.ok AND a.ptype <> b.ptype
                     GROUP BY 1, 2)
         SELECT pr.antecedent, pr.consequent, pr.nab,
                ROUND(CAST(pr.nab AS DOUBLE) / n, 6) AS support,
                ROUND(CAST(pr.nab AS DOUBLE) / s1.na, 6) AS confidence,
                ROUND((CAST(pr.nab AS DOUBLE) / s1.na) / (CAST(s2.na AS DOUBLE) / n), 6) AS lift,
                ROUND(CAST(pr.nab AS DOUBLE) / n -
                      (CAST(s1.na AS DOUBLE) / n) * (CAST(s2.na AS DOUBLE) / n), 6) AS leverage,
                CASE WHEN ROUND(CAST(pr.nab AS DOUBLE) / s1.na, 6) < 1.0
                     THEN ROUND((1.0 - CAST(s2.na AS DOUBLE) / n) /
                                (1.0 - CAST(pr.nab AS DOUBLE) / s1.na), 6) END AS conviction
         FROM pr JOIN single s1 ON s1.ptype = pr.antecedent
                 JOIN single s2 ON s2.ptype = pr.consequent
                 CROSS JOIN tot
         ORDER BY antecedent, consequent""",

    // Flesch/FK: identical character-class regex counts on both
    // engines, pinned score chains
    "q_readability" ->
      """WITH c AS (SELECT doc_id,
                           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
                           GREATEST(CAST(1 AS BIGINT),
                             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
                           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
                    FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                ROUND(206.835 - CAST(n_words AS DOUBLE) / n_sentences * 1.015
                              - CAST(n_syllables AS DOUBLE) / n_words * 84.6, 4) AS flesch,
                ROUND(CAST(n_words AS DOUBLE) / n_sentences * 0.39
                      + CAST(n_syllables AS DOUBLE) / n_words * 11.8 - 15.59, 4) AS fk_grade
         FROM c WHERE n_words > 0 ORDER BY doc_id""",

    // per-doc TTR + hapax share off the (doc, word) histogram
    "q_doc_ttr" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                       FROM documents WHERE text IS NOT NULL),
              cnt AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
                      FROM toks GROUP BY 1, 2),
              agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                             CAST(COUNT(*) AS BIGINT) AS n_types,
                             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
                      FROM cnt GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_types, n_hapax,
                ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
                ROUND(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_share
         FROM agg WHERE n_tokens > 0 ORDER BY doc_id""",

    // Gwet's AC1: fleiss' exact moments with the gamma chance term
    // (1 - Sum pi_c^2)/(k-1)
    "q_gwet_ac1" ->
      """WITH cells AS (SELECT l_orderkey AS i, l_returnflag AS c,
                               CAST(COUNT(*) AS BIGINT) AS n
                        FROM lineitem
                        WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL
                        GROUP BY 1, 2),
              keep AS (SELECT i FROM (SELECT i, SUM(n) AS mi FROM cells GROUP BY i)
                       WHERE mi = 4),
              kept AS (SELECT cells.* FROM cells JOIN keep USING (i)),
              pi AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items, SUM(s2) AS ss2
                     FROM (SELECT i, SUM(CAST(n AS HUGEINT) * n) AS s2 FROM kept GROUP BY i)),
              pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_categories,
                            SUM(CAST(nc AS HUGEINT) * nc) AS snc2
                     FROM (SELECT c, SUM(n) AS nc FROM kept GROUP BY c)),
              f AS (SELECT n_items, k_categories,
                           (CAST(ss2 AS DOUBLE) - CAST(n_items AS DOUBLE) * 4.0) /
                             (CAST(n_items AS DOUBLE) * 4.0 * 3.0) AS pbar,
                           (1.0 - CAST(snc2 AS DOUBLE) /
                             (CAST(n_items AS DOUBLE) * 4.0 * CAST(n_items AS DOUBLE) * 4.0)) /
                             (CAST(k_categories AS DOUBLE) - 1.0) AS peg
                    FROM pi CROSS JOIN pc
                    WHERE n_items > 0 AND k_categories > 1)
         SELECT n_items, CAST(4 AS BIGINT) AS m, k_categories,
                ROUND(pbar, 6) AS p_bar, ROUND(peg, 6) AS p_e_gamma,
                CASE WHEN ROUND(peg, 6) < 1.0
                     THEN ROUND((pbar - peg) / (1.0 - peg), 6) END AS ac1
         FROM f""",

    // Hoover: Σ|x−μ| stays integer via |n·x−S|; one division at the end
    "q_hoover" ->
      """WITH x AS (SELECT o_orderpriority AS g,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM orders WHERE o_totalprice IS NOT NULL),
              gs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                            SUM(CAST(c AS HUGEINT)) AS s
                     FROM x GROUP BY g),
              dv AS (SELECT g, n, s, SUM(ABS(CAST(c AS HUGEINT) * n - s)) AS d
                     FROM x JOIN gs USING (g) GROUP BY g, n, s)
         SELECT g AS o_orderpriority, n, CAST(s AS DOUBLE) / 100 AS total,
                CASE WHEN n = 1 OR s <= 0 THEN 0.0
                     ELSE ROUND(CAST(d AS DOUBLE) /
                                (2.0 * CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6)
                END AS hoover
         FROM dv ORDER BY 1""",

    // Simpson: pure integer pair counts, two divisions at the end
    "q_simpson_diversity" ->
      """WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
                        FROM documents
                        WHERE source IS NOT NULL AND lang IS NOT NULL
                        GROUP BY 1, 2),
              agg AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                             CAST(COUNT(*) AS BIGINT) AS n_categories,
                             SUM(CAST(c AS HUGEINT) * (c - 1)) AS p2,
                             SUM(CAST(c AS HUGEINT) * c) AS q2
                      FROM cells GROUP BY source)
         SELECT source, n, n_categories,
                CASE WHEN n >= 2
                     THEN ROUND(1.0 - CAST(p2 AS DOUBLE) /
                                (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)), 6)
                END AS simpson_diversity,
                ROUND(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) /
                      CAST(q2 AS DOUBLE), 6) AS effective_categories
         FROM agg ORDER BY 1""",

    // Grubbs: exact cents moments; |n·x−S| exact; one double chain
    "q_grubbs" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS v
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              b AS (SELECT day, CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS x FROM daily),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(x AS HUGEINT)) AS s,
                           SUM(CAST(x AS HUGEINT) * x) AS q FROM b),
              dv AS (SELECT day, x, n, s, q,
                            ABS(CAST(x AS HUGEINT) * n - s) AS d
                     FROM b CROSS JOIN m)
         SELECT n, day AS at, ROUND(CAST(x AS DOUBLE) / 100.0, 2) AS value,
                CASE WHEN n >= 3 AND CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) > 0
                     THEN ROUND(CAST(d AS DOUBLE) /
                                (CAST(n AS DOUBLE) *
                                 SQRT(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE) /
                                      (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 6)
                END AS g_stat
         FROM dv ORDER BY d DESC, day ASC LIMIT 1""",

    // Cuzick: kruskal's doubled-rank map; T, E[T], Var numerator exact
    "q_cuzick_trend" ->
      """WITH b AS (SELECT ROUND(l_extendedprice, -2) AS v,
                           CAST(l_linenumber AS BIGINT) AS l
                    FROM lineitem
                    WHERE l_extendedprice IS NOT NULL AND l_linenumber IS NOT NULL),
              hist AS (SELECT v, l, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY v, l),
              vt AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM hist GROUP BY v),
              r AS (SELECT v, t,
                           COALESCE(SUM(t) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2 + t + 1 AS r2
                    FROM vt),
              tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                             SUM(CAST(t AS HUGEINT) * t * t - t) AS ties FROM r),
              byg AS (SELECT l, CAST(SUM(c) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT) * r2) AS r2g
                      FROM hist JOIN r USING (v) GROUP BY l),
              sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                            SUM(CAST(r2g AS HUGEINT) * l) AS t2,
                            SUM(CAST(ng AS HUGEINT) * l) AS snl,
                            SUM(CAST(ng AS HUGEINT) * l * l) AS snl2
                     FROM byg),
              f AS (SELECT n, k, t2,
                           CAST(t2 - (n + 1) * snl AS DOUBLE) AS num2,
                           CAST(CAST(n AS HUGEINT) * snl2 - snl * snl AS DOUBLE) *
                             CAST(CAST(n AS HUGEINT) * n * n - n - ties AS DOUBLE) /
                             (CAST(n AS DOUBLE) * 12.0 * CAST(n - 1 AS DOUBLE)) AS vart
                    FROM sc CROSS JOIN tot WHERE k >= 2)
         SELECT n, k, CAST(t2 AS DOUBLE) / 2 AS t_stat,
                CASE WHEN vart > 0 THEN ROUND(num2 / SQRT(4.0 * vart), 6) END AS z,
                CASE WHEN num2 > 0 THEN 'up'
                     WHEN num2 < 0 THEN 'down' ELSE 'flat' END AS direction
         FROM f""",

    // Page-Hinkley: per-day dev rounds 6dp independently; decimal cumsums
    "q_page_hinkley" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS x
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT d0, UNNEST(generate_series(0, CAST(date_diff('day', d0, d1) AS BIGINT))) AS idx
                       FROM bounds),
              series AS (SELECT idx, grid.d0 + idx * INTERVAL 1 DAY AS day,
                                COALESCE(x, 0) AS x
                         FROM grid LEFT JOIN daily ON daily.day = grid.d0 + idx * INTERVAL 1 DAY),
              nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM series),
              devs AS (SELECT idx, day,
                              CAST(ROUND(CAST(CAST(idx + 1 AS HUGEINT) * x -
                                         SUM(x) OVER wc AS DOUBLE) /
                                         CAST(idx + 1 AS DOUBLE) / 100.0, 6) AS DECIMAL(38,6)) AS dev
                       FROM series
                       WINDOW wc AS (ORDER BY idx ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              cum AS (SELECT idx, day, SUM(dev) OVER wc AS p
                      FROM devs
                      WINDOW wc AS (ORDER BY idx ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              ph AS (SELECT idx, day, p, MIN(p) OVER wc AS mn
                     FROM cum
                     WINDOW wc AS (ORDER BY idx ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT n_days, day AS at_day,
                ROUND(CAST(p - mn AS DOUBLE), 6) AS ph_stat, 'up' AS direction
         FROM ph CROSS JOIN nd
         ORDER BY p - mn DESC, idx ASC LIMIT 1""",

    // permutation entropy: integer order patterns; 8dp-rounded -p·ln p
    "q_perm_entropy" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS x
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT d0, UNNEST(generate_series(0, CAST(date_diff('day', d0, d1) AS BIGINT))) AS idx
                       FROM bounds),
              series AS (SELECT idx, COALESCE(x, 0) AS x
                         FROM grid LEFT JOIN daily ON daily.day = grid.d0 + idx * INTERVAL 1 DAY),
              trip AS (SELECT x AS a, LEAD(x, 1) OVER w AS b, LEAD(x, 2) OVER w AS c
                       FROM series WINDOW w AS (ORDER BY idx ASC)),
              pats AS (SELECT (CASE WHEN b >= a THEN 4 ELSE 0 END +
                               CASE WHEN c >= a THEN 2 ELSE 0 END +
                               CASE WHEN c >= b THEN 1 ELSE 0 END) AS p
                       FROM trip WHERE b IS NOT NULL AND c IS NOT NULL),
              counts AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM pats GROUP BY p),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
              terms AS (SELECT n,
                               CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                                          LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 8) AS DECIMAL(24,8)) AS h
                        FROM counts CROSS JOIN tot)
         SELECT n AS n_windows, CAST(COUNT(*) AS BIGINT) AS n_patterns,
                ROUND(CAST(SUM(h) AS DOUBLE), 6) AS perm_entropy,
                ROUND(CAST(SUM(h) AS DOUBLE) / LN(6.0), 6) AS normalized_entropy
         FROM terms GROUP BY n""",

    // energy distance: the wasserstein grid with a squared gap, ×2
    "q_energy_distance" ->
      """WITH f AS (SELECT ROUND(value, 0) AS v, event_type AS g FROM events
                    WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')),
              c AS (SELECT CAST(v AS DOUBLE) AS v,
                           CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                           CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                    FROM f GROUP BY 1),
              tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS ta, CAST(SUM(cb) AS BIGINT) AS tb FROM c),
              cdf AS (SELECT ta, tb, v,
                             SUM(ca) OVER wc AS fa, SUM(cb) OVER wc AS fb,
                             LEAD(v, 1) OVER (ORDER BY v ASC) AS nxt
                      FROM c CROSS JOIN tot
                      WINDOW wc AS (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              terms AS (SELECT ta, tb,
                               CAST(ROUND((CAST(fa AS DOUBLE) / ta - CAST(fb AS DOUBLE) / tb)
                                          * (CAST(fa AS DOUBLE) / ta - CAST(fb AS DOUBLE) / tb)
                                          * COALESCE(nxt - v, 0), 8) AS DECIMAL(24,8)) AS w
                        FROM cdf WHERE ta > 0 AND tb > 0)
         SELECT ta AS n_a, tb AS n_b,
                ROUND(CAST(SUM(w) AS DOUBLE) * 2, 6) AS energy
         FROM terms GROUP BY ta, tb""",

    // Welch: exact group moments; 12dp/8dp rounded-term decimal reduces
    "q_welch_anova" ->
      """WITH b AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM b GROUP BY g),
              us AS (SELECT ng,
                            CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) AS m,
                            CAST(CAST(ng AS HUGEINT) * qg - sg * sg AS DOUBLE) /
                              (CAST(ng AS DOUBLE) *
                               (CAST(ng AS DOUBLE) - 1.0)) AS v2
                     FROM grp WHERE ng >= 2),
              uw AS (SELECT ng, m, CAST(ng AS DOUBLE) / v2 AS w FROM us WHERE v2 > 0),
              w1 AS (SELECT CAST(SUM(CAST(ROUND(w, 12) AS DECIMAL(38,12))) AS DOUBLE) AS wt,
                            CAST(SUM(CAST(ROUND(w * m, 8) AS DECIMAL(38,8))) AS DOUBLE) AS wm,
                            CAST(SUM(ng) AS BIGINT) AS n,
                            CAST(COUNT(*) AS BIGINT) AS k
                     FROM uw),
              red AS (SELECT n, k,
                             CAST(SUM(CAST(ROUND(w * (m - wm / wt) * (m - wm / wt), 8) AS DECIMAL(38,8))) AS DOUBLE) AS a,
                             CAST(SUM(CAST(ROUND((1.0 - w / wt) * (1.0 - w / wt) /
                                                 CAST(ng - 1 AS DOUBLE), 12) AS DECIMAL(38,12))) AS DOUBLE) AS lam
                      FROM uw CROSS JOIN w1 GROUP BY n, k)
         SELECT n, k AS n_groups,
                CASE WHEN k >= 2
                     THEN ROUND(a / (CAST(k AS DOUBLE) - 1.0) /
                                (1.0 + 2.0 * (CAST(k AS DOUBLE) - 2.0) /
                                 (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) * lam), 6)
                END AS f_stat,
                CASE WHEN k >= 2 AND lam > 0
                     THEN ROUND((CAST(k AS DOUBLE) * CAST(k AS DOUBLE) - 1.0) /
                                (3.0 * lam), 6)
                END AS df2
         FROM red""",

    // Brown-Forsythe: median centers (quantile_cont = Spark percentile),
    // then the leveneW hundredth-cent quantum into the anova moments
    "q_brown_forsythe" ->
      """WITH b AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
              meds AS (SELECT g, quantile_cont(c, 0.5) AS med FROM b GROUP BY g),
              z AS (SELECT b.g,
                           CAST(CAST(ROUND(ABS(c - med), 2) AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM b JOIN meds USING (g)),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM z GROUP BY g),
              tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
                             CAST(COUNT(*) AS BIGINT) AS k FROM grp),
              terms AS (SELECT n, k,
                               CAST(ROUND(CAST((sg * n - s * ng) * (sg * n - s * ng) AS DOUBLE)
                                          / CAST(CAST(n AS HUGEINT) * n * ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS bt,
                               CAST(ROUND(CAST(qg * ng - sg * sg AS DOUBLE) / CAST(ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS wt
                        FROM grp CROSS JOIN tot),
              sums AS (SELECT n, k, CAST(SUM(bt) AS DOUBLE) AS ssb,
                              CAST(SUM(wt) AS DOUBLE) AS ssw
                       FROM terms GROUP BY n, k)
         SELECT n, k AS n_groups,
                CASE WHEN k >= 2 AND n > k AND ssw > 0
                     THEN ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6)
                END AS f_stat
         FROM sums""",

    // Games-Howell: exact moments per group; per-pair q and W-S df
    "q_games_howell" ->
      """WITH b AS (SELECT event_type AS g,
                           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM b GROUP BY g),
              us AS (SELECT g, ng,
                            CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) / 100.0 AS m,
                            CAST(CAST(ng AS HUGEINT) * qg - sg * sg AS DOUBLE) /
                              (CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1.0)) / 10000.0 AS v
                     FROM grp WHERE ng >= 2),
              uv AS (SELECT * FROM us WHERE v > 0),
              pairs AS (SELECT a.g AS g_a, b2.g AS g_b, a.ng AS n_a, b2.ng AS n_b,
                               a.m AS m_a, b2.m AS m_b, a.v AS v_a, b2.v AS v_b
                        FROM uv a JOIN uv b2 ON a.g < b2.g)
         SELECT g_a, g_b, n_a, n_b,
                ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
                ROUND(ABS(m_a - m_b) /
                      SQRT((v_a / n_a + v_b / n_b) / 2.0), 6) AS q_stat,
                CASE WHEN (v_a / n_a) * (v_a / n_a) / CAST(n_a - 1 AS DOUBLE) +
                          (v_b / n_b) * (v_b / n_b) / CAST(n_b - 1 AS DOUBLE) > 0
                     THEN ROUND((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b) /
                                ((v_a / n_a) * (v_a / n_a) / CAST(n_a - 1 AS DOUBLE) +
                                 (v_b / n_b) * (v_b / n_b) / CAST(n_b - 1 AS DOUBLE)), 6)
                END AS df
         FROM pairs ORDER BY g_a, g_b""",

    // Siegel: per-day slope medians, then the median of medians
    "q_siegel_slope" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS d,
                               SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s
                        FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
                        GROUP BY 1),
              mn AS (SELECT MIN(d) AS d0 FROM daily),
              idx AS (SELECT CAST(date_diff('day', d0, d) AS BIGINT) AS i, s
                      FROM daily CROSS JOIN mn),
              perday AS (SELECT a.i,
                                quantile_cont(CAST(b.s - a.s AS DOUBLE) /
                                              CAST(b.i - a.i AS DOUBLE), 0.5) AS ms
                         FROM idx a JOIN idx b ON b.i <> a.i
                         GROUP BY a.i)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                ROUND(quantile_cont(ms, 0.5) / 100.0, 8) AS slope
         FROM perday HAVING COUNT(*) >= 2""",

    // ICC(1): the anova exact-moment chain + Sum ng^2 for the
    // unbalanced n0; one pinned double chain
    "q_icc" ->
      """WITH b AS (SELECT o_orderpriority AS g,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
                    FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
              grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
                             SUM(CAST(c AS HUGEINT)) AS sg,
                             SUM(CAST(c AS HUGEINT) * c) AS qg
                      FROM b GROUP BY g),
              tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s,
                             CAST(COUNT(*) AS BIGINT) AS k,
                             SUM(CAST(ng AS HUGEINT) * ng) AS sn2 FROM grp),
              terms AS (SELECT n, k, sn2,
                               CAST(ROUND(CAST((sg * n - s * ng) * (sg * n - s * ng) AS DOUBLE)
                                          / CAST(CAST(n AS HUGEINT) * n * ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS bt,
                               CAST(ROUND(CAST(qg * ng - sg * sg AS DOUBLE) / CAST(ng AS DOUBLE), 4)
                                    AS DECIMAL(38,4)) AS wt
                        FROM grp CROSS JOIN tot),
              ss AS (SELECT n, k, CAST(sn2 AS DOUBLE) AS sn2,
                            CAST(SUM(bt) AS DOUBLE) AS ssb, CAST(SUM(wt) AS DOUBLE) AS ssw
                     FROM terms GROUP BY n, k, sn2),
              f AS (SELECT n, k,
                           ssb / (k - 1.0) AS msb, ssw / (CAST(n AS DOUBLE) - k) AS msw,
                           (CAST(n AS DOUBLE) - sn2 / CAST(n AS DOUBLE)) / (k - 1.0) AS n0
                    FROM ss)
         SELECT n, k,
                CASE WHEN k >= 2 THEN ROUND(n0, 6) END AS n0,
                CASE WHEN k >= 2 AND n > k AND msb + (n0 - 1.0) * msw > 0
                     THEN ROUND((msb - msw) / (msb + (n0 - 1.0) * msw), 6) END AS icc
         FROM f""",

    // Cronbach's alpha on the dense day x type grid: the n(n-1)
    // denominators cancel so the variance ratio is exact-integer
    "q_cronbach_alpha" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day, event_type AS et,
                               CAST(COUNT(*) AS BIGINT) AS cnt
                        FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
                        GROUP BY 1, 2),
              days AS (SELECT DISTINCT day FROM daily),
              types AS (SELECT DISTINCT et FROM daily),
              dense AS (SELECT days.day, types.et,
                               COALESCE(daily.cnt, 0) * 100 AS x
                        FROM days CROSS JOIN types
                        LEFT JOIN daily ON daily.day = days.day AND daily.et = types.et),
              bi AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_items, MAX(nd) AS nd,
                            SUM(ai) AS sai
                     FROM (SELECT et, CAST(COUNT(*) AS BIGINT) AS nd,
                                  CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
                                    - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)) AS ai
                           FROM dense GROUP BY et)),
              bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
                            CAST(COUNT(*) AS HUGEINT) * SUM(CAST(t AS HUGEINT) * t)
                              - SUM(CAST(t AS HUGEINT)) * SUM(CAST(t AS HUGEINT)) AS at
                     FROM (SELECT day, SUM(x) AS t FROM dense GROUP BY day))
         SELECT n_subjects, k_items,
                CASE WHEN k_items >= 2 AND CAST(at AS DOUBLE) > 0
                     THEN ROUND(CAST(k_items AS DOUBLE) / (k_items - 1.0) *
                            (1.0 - CAST(sai AS DOUBLE) / CAST(at AS DOUBLE)), 6)
                END AS alpha
         FROM bi CROSS JOIN bs""",

    // Lin's CCC: five exact moments, n^2 factors cancelled
    "q_lin_ccc" ->
      """WITH ls AS (SELECT l_orderkey,
                            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS line_sum
                     FROM lineitem GROUP BY 1),
              p AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
                           CAST(CAST(line_sum AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
                    FROM orders JOIN ls ON l_orderkey = o_orderkey
                    WHERE o_totalprice IS NOT NULL AND line_sum IS NOT NULL),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                           SUM(CAST(x AS HUGEINT) * x) AS sxx,
                           SUM(CAST(y AS HUGEINT) * y) AS syy,
                           SUM(CAST(x AS HUGEINT) * y) AS sxy
                    FROM p),
              c AS (SELECT n,
                           CAST(n AS HUGEINT) * sxx - sx * sx AS vx,
                           CAST(n AS HUGEINT) * syy - sy * sy AS vy,
                           CAST(n AS HUGEINT) * sxy - sx * sy AS cxy,
                           (sx - sy) * (sx - sy) AS dd
                    FROM m)
         SELECT n,
                CASE WHEN CAST(vx AS DOUBLE) > 0 AND CAST(vy AS DOUBLE) > 0
                     THEN ROUND(CAST(cxy AS DOUBLE) /
                                SQRT(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 8) END AS pearson_r,
                CASE WHEN CAST(vx + vy + dd AS DOUBLE) > 0
                     THEN ROUND(CAST(cxy AS DOUBLE) * 2 / CAST(vx + vy + dd AS DOUBLE), 8)
                END AS ccc
         FROM c WHERE n > 1""",

    // Bland-Altman: exact-cents difference moments, 1.96-sd band
    "q_bland_altman" ->
      """WITH ls AS (SELECT l_orderkey,
                            CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS line_sum
                     FROM lineitem GROUP BY 1),
              p AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) -
                           CAST(CAST(line_sum AS DECIMAL(18,2)) * 100 AS BIGINT) AS d
                    FROM orders JOIN ls ON l_orderkey = o_orderkey
                    WHERE o_totalprice IS NOT NULL AND line_sum IS NOT NULL),
              m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                           SUM(CAST(d AS HUGEINT)) AS sd1,
                           SUM(CAST(d AS HUGEINT) * d) AS sd2
                    FROM p),
              c AS (SELECT n,
                           CAST(sd1 AS DOUBLE) / n / 100.0 AS bias,
                           CAST(CAST(n AS HUGEINT) * sd2 - sd1 * sd1 AS DOUBLE) /
                             (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 1e4 AS vard
                    FROM m WHERE n > 0)
         SELECT n, ROUND(bias, 6) AS bias,
                CASE WHEN n > 1 AND vard >= 0 THEN ROUND(SQRT(vard), 6) END AS sd_diff,
                CASE WHEN n > 1 AND vard >= 0 THEN ROUND(bias - SQRT(vard) * 1.96, 6) END AS loa_lo,
                CASE WHEN n > 1 AND vard >= 0 THEN ROUND(bias + SQRT(vard) * 1.96, 6) END AS loa_hi
         FROM c""",

    // Newcombe: per-arm Wilson bounds composed into the difference CI
    // (center/half computed separately - the engine's op order)
    "q_newcombe_ci" ->
      """WITH f AS (SELECT (CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 2 = 0) AS a,
                           (event_type = 'purchase') AS ok
                    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              m AS (SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                           CAST(SUM(CASE WHEN a AND ok THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
                           CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                           CAST(SUM(CASE WHEN NOT a AND ok THEN 1 ELSE 0 END) AS BIGINT) AS k_b
                    FROM f),
              w AS (SELECT n_a, k_a, n_b, k_b,
                           CAST(k_a AS DOUBLE) / n_a AS pa, CAST(k_b AS DOUBLE) / n_b AS pb,
                           (CAST(k_a AS DOUBLE) / n_a + (1.96 * 1.96) / (n_a * 2)) / (1.0 + (1.96 * 1.96) / n_a) AS ca,
                           1.96 * SQRT((CAST(k_a AS DOUBLE) / n_a) * (1.0 - CAST(k_a AS DOUBLE) / n_a) / n_a
                                       + (1.96 * 1.96) / (CAST(n_a AS DOUBLE) * n_a * 4)) / (1.0 + (1.96 * 1.96) / n_a) AS ha,
                           (CAST(k_b AS DOUBLE) / n_b + (1.96 * 1.96) / (n_b * 2)) / (1.0 + (1.96 * 1.96) / n_b) AS cb,
                           1.96 * SQRT((CAST(k_b AS DOUBLE) / n_b) * (1.0 - CAST(k_b AS DOUBLE) / n_b) / n_b
                                       + (1.96 * 1.96) / (CAST(n_b AS DOUBLE) * n_b * 4)) / (1.0 + (1.96 * 1.96) / n_b) AS hb
                    FROM m WHERE n_a > 0 AND n_b > 0)
         SELECT n_a, k_a, n_b, k_b,
                ROUND(pa - pb, 6) AS diff,
                ROUND(pa - pb - SQRT((pa - (ca - ha)) * (pa - (ca - ha)) +
                                     ((cb + hb) - pb) * ((cb + hb) - pb)), 6) AS lo,
                ROUND(pa - pb + SQRT(((ca + ha) - pa) * ((ca + ha) - pa) +
                                     (pb - (cb - hb)) * (pb - (cb - hb))), 6) AS hi
         FROM w""",

    // one-sample KS vs the discrete uniform over the observed range of
    // the split-hash buckets
    "q_ks_uniform" ->
      """WITH f AS (SELECT CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT) % 1000 AS v
                    FROM events WHERE user_id IS NOT NULL),
              c AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM f GROUP BY v),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                             CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi FROM c),
              g AS (SELECT v, n, hi - lo + 1 AS range_size,
                           ROUND(ABS(CAST(SUM(c) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / n
                                     - CAST(v - lo + 1 AS DOUBLE) / CAST(hi - lo + 1 AS DOUBLE)), 8) AS d
                    FROM c CROSS JOIN tot WHERE n > 0)
         SELECT n, range_size, d AS d_stat, v AS at_v
         FROM g ORDER BY d DESC, v ASC LIMIT 1""",

    // Mood's MEDIAN test: exact grand median off the cents histogram,
    // 2 x k chi-square with 8dp decimal terms
    "q_median_test" ->
      """WITH b AS (SELECT o_orderpriority AS g,
                           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
                    FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
              h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY v),
              tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM h),
              cum AS (SELECT v, nn, SUM(c) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
                      FROM h CROSS JOIN tot),
              md AS (SELECT CAST(MIN(CASE WHEN cm * 2 >= nn + (nn % 2) THEN v END) +
                                 MIN(CASE WHEN cm * 2 >= nn + 2 - (nn % 2) THEN v END) AS DOUBLE) / 2.0 AS med
                     FROM cum),
              obs AS (SELECT g, (CAST(v AS DOUBLE) > med) AS above, CAST(COUNT(*) AS BIGINT) AS o
                      FROM b CROSS JOIN md GROUP BY 1, 2),
              cells AS (SELECT gg.g, aa.above, COALESCE(obs.o, 0) AS o
                        FROM (SELECT DISTINCT g FROM obs) gg
                        CROSS JOIN (SELECT DISTINCT above FROM obs) aa
                        LEFT JOIN obs ON obs.g = gg.g AND obs.above = aa.above),
              rg AS (SELECT g, CAST(SUM(o) AS BIGINT) AS rg FROM cells GROUP BY g),
              rs AS (SELECT above, CAST(SUM(o) AS BIGINT) AS rs FROM cells GROUP BY above),
              nn2 AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
              terms AS (SELECT n,
                               CAST(ROUND((o - CAST(rg AS DOUBLE) * rs / n) * (o - CAST(rg AS DOUBLE) * rs / n)
                                          / (CAST(rg AS DOUBLE) * rs / n), 8) AS DECIMAL(24,8)) AS t
                        FROM cells JOIN rg USING (g) JOIN rs USING (above) CROSS JOIN nn2),
              kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM rg),
              sd AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM rs)
         SELECT n, k,
                CASE WHEN ns > 1 AND k > 1 THEN ROUND(CAST(SUM(t) AS DOUBLE), 6) END AS chi2,
                (k - 1) * (ns - 1) AS dof
         FROM terms CROSS JOIN kk CROSS JOIN sd GROUP BY n, k, ns""",

    // Bowker symmetry on the event-transition pairs: per unordered
    // pair (n_ij - n_ji)^2/(n_ij + n_ji), 8dp decimal terms
    "q_bowker" ->
      """WITH ev AS (SELECT user_id AS u, ts, event_id AS tie, event_type AS e
                     FROM events
                     WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
              prs AS (SELECT LAG(e) OVER (PARTITION BY u ORDER BY ts ASC, tie ASC) AS a, e AS b FROM ev),
              cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n
                        FROM prs WHERE a IS NOT NULL AND a <> b GROUP BY 1, 2),
              pairs AS (SELECT LEAST(a, b) AS lo, GREATEST(a, b) AS hi,
                               CAST(SUM(CASE WHEN a < b THEN n ELSE 0 END) AS BIGINT) AS nij,
                               CAST(SUM(CASE WHEN a > b THEN n ELSE 0 END) AS BIGINT) AS nji
                        FROM cells GROUP BY 1, 2),
              kept AS (SELECT nij, nji FROM pairs WHERE nij + nji > 0),
              terms AS (SELECT CAST(ROUND(CAST(nij - nji AS DOUBLE) * CAST(nij - nji AS DOUBLE)
                                          / CAST(nij + nji AS DOUBLE), 8) AS DECIMAL(24,8)) AS t
                        FROM kept)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_tested,
                CAST(COUNT(*) AS BIGINT) AS dof,
                ROUND(CAST(SUM(t) AS DOUBLE), 6) AS chi2
         FROM terms HAVING COUNT(*) > 0""",

    // spectral entropy: the dominant-cycle periodogram renormalized
    // (decimal power sum), -p ln p terms 8dp through decimal
    "q_spectral_entropy" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                               CAST(COUNT(*) AS BIGINT) AS y
                        FROM events WHERE ts IS NOT NULL GROUP BY 1),
              b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
              grid AS (SELECT CAST(unnest(generate_series(0,
                         datediff('day', d0, d1))) AS BIGINT) AS idx FROM b),
              s AS (SELECT g.idx, COALESCE(d.y, 0) AS y
                    FROM grid g LEFT JOIN
                      (SELECT datediff('day', (SELECT d0 FROM b), day) AS idx, y
                       FROM daily) d USING (idx)),
              t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sm FROM s),
              e AS (SELECT idx, n, CAST(n AS HUGEINT) * y - sm AS ee
                    FROM s CROSS JOIN t),
              byp AS (SELECT p, MAX(n) AS n,
                             SUM(CAST(ROUND(CAST(ee AS DOUBLE) *
                               COS(2 * PI() * (idx % p) / p), 4) AS DECIMAL(38,4))) AS sa,
                             SUM(CAST(ROUND(CAST(ee AS DOUBLE) *
                               SIN(2 * PI() * (idx % p) / p), 4) AS DECIMAL(38,4))) AS sb,
                             SUM(ee * ee) AS se2
                      FROM e CROSS JOIN (SELECT unnest(generate_series(2, 14)) AS p)
                      GROUP BY p),
              pw AS (SELECT CASE WHEN CAST(se2 AS DOUBLE) > 0
                                 THEN ROUND((CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) +
                                             CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) * 2.0 /
                                            (CAST(n AS DOUBLE) * CAST(se2 AS DOUBLE)), 6)
                            END AS power
                     FROM byp),
              pos AS (SELECT power FROM pw WHERE power IS NOT NULL AND power > 0),
              tp AS (SELECT SUM(CAST(power AS DECIMAL(18,6))) AS tp,
                            CAST(COUNT(*) AS BIGINT) AS n_periods FROM pos),
              h AS (SELECT n_periods,
                           SUM(CAST(ROUND(-(power / CAST(tp AS DOUBLE)) *
                             LN(power / CAST(tp AS DOUBLE)), 8) AS DECIMAL(24,8))) AS hh
                    FROM pos CROSS JOIN tp GROUP BY n_periods)
         SELECT n_periods,
                CASE WHEN n_periods > 1
                     THEN ROUND(GREATEST(CAST(hh AS DOUBLE), 0.0) /
                                LN(CAST(n_periods AS DOUBLE)), 6)
                     ELSE 0.0 END AS spectral_entropy,
                ROUND(1.0 - (CASE WHEN n_periods > 1
                                  THEN ROUND(GREATEST(CAST(hh AS DOUBLE), 0.0) /
                                             LN(CAST(n_periods AS DOUBLE)), 6)
                                  ELSE 0.0 END), 6) AS concentration
         FROM h""",

    // two-period Poisson rate test on error events: conditional
    // binomial z at the window midpoint, exact integer inputs
    "q_poisson_rate" ->
      """WITH d AS (SELECT date_trunc('day', ts) AS dd FROM events
                    WHERE event_type = 'error' AND ts IS NOT NULL),
              b AS (SELECT MIN(dd) AS d0,
                           CAST(datediff('day', MIN(dd), MAX(dd)) AS BIGINT) AS span
                    FROM d),
              m AS (SELECT span,
                           CAST(SUM(CASE WHEN datediff('day', d0, dd) <= span // 2 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                           CAST(SUM(CASE WHEN datediff('day', d0, dd) > span // 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2
                    FROM d CROSS JOIN b GROUP BY span),
              c AS (SELECT k1, k2, span // 2 + 1 AS t1, span + 1 - (span // 2 + 1) AS t2,
                           CAST(k1 + k2 AS DOUBLE) AS kt,
                           CAST(span // 2 + 1 AS DOUBLE) / CAST(span + 1 AS DOUBLE) AS frac,
                           span
                    FROM m)
         SELECT k1, CAST(t1 AS BIGINT) AS t1_days, k2, CAST(t2 AS BIGINT) AS t2_days,
                ROUND(CAST(k1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) AS rate1,
                ROUND(CAST(k2 AS DOUBLE) / CAST(t2 AS DOUBLE), 6) AS rate2,
                CASE WHEN span > 0 AND kt > 0 AND frac > 0 AND frac < 1
                     THEN ROUND((CAST(k1 AS DOUBLE) - kt * frac) /
                                SQRT(kt * frac * (1.0 - frac)), 6) END AS z
         FROM c"""
  )
}
