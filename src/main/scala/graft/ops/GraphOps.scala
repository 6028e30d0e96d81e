package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics over edge lists — the dup-pair graphs the dedup tiers
 * emit (`DedupOps.minhashLshPairs` etc.) are undirected graphs, and
 * connected components (`DedupOps.connectedComponentsStar`) is already a
 * first-class operator; triangle counting is the next standard metric
 * (clustering coefficient, community density, spam-farm detection).
 */
object GraphOps {

  /**
   * Persisted canonical-graph artifact shared across the iterative graph
   * family ([[pageRankScaled]], [[personalizedPageRankScaled]],
   * [[kCoreBounded]], [[labelPropagation]], [[bfsHops]]). Every one of
   * those operators starts from the SAME derivation — canonicalize (lower
   * id first, drop self-loops/nulls), distinct, double to a symmetric
   * (u, v) list, degree-count — and a user running several graph analyses
   * over one dup graph should pay that edge shuffle ONCE: prepare the
   * graph, hand the artifact to each analysis, `unpersist()` when done.
   * The single-DataFrame overloads remain and simply wrap a one-shot
   * artifact, so one-off calls cost exactly what they used to.
   *
   * `deg`/`biDeg`/`nodes` are LAZY: an operator that only walks the
   * symmetric edge list (BFS, k-core) never computes or caches degrees.
   *
   * CACHE-EVICTION CAVEAT (CacheManager keys by CANONICALIZED plan, not
   * by DataFrame handle): two PreparedGraphs built over plan-identical
   * `edges` share one cache entry, and `unpersist()` on EITHER — which
   * includes the throwaway artifact inside every one-shot overload —
   * evicts it for BOTH. The one-shot overloads stay persist+unpersist
   * because the iterative family re-reads `bi` every round (a one-shot
   * PageRank without the cache recomputes the edge shuffle per
   * iteration, which is strictly worse); so the rule for callers is:
   * while a shared PreparedGraph is live, route ALL graph calls over
   * that edges frame through it rather than through one-shot overloads.
   * CdcStatsSpec probes the eviction behavior first-hand.
   */
  final class PreparedGraph private[GraphOps] (
      edges: DataFrame, src: String, dst: String) {
    private val handles =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private def reg(df: DataFrame): DataFrame =
      handles.synchronized { val p = df.persist(); handles += p; p }
    /** Symmetric doubled canonical edge list (u, v). */
    private[graft] val bi: DataFrame = reg {
      val e = edges
        .select(least(col(src), col(dst)).as("a"),
          greatest(col(src), col(dst)).as("b"))
        .filter(col("a") =!= col("b") && col("a").isNotNull &&
          col("b").isNotNull)
        .distinct()
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    }
    /** (u, deg) — undirected degree (bi is symmetric). */
    private[graft] lazy val deg: DataFrame =
      reg(bi.groupBy("u").agg(count(lit(1)).as("deg")))
    /** bi with the SOURCE endpoint's degree riding each row. */
    private[graft] lazy val biDeg: DataFrame = reg(bi.join(deg, "u"))
    /** Every node (each appears as some u in the symmetric list). */
    private[graft] lazy val nodes: DataFrame =
      reg(deg.select(col("u").as("node")))
    /** Release every cache this artifact materialized. */
    def unpersist(): Unit = handles.synchronized {
      handles.foreach(_.unpersist(blocking = false)); handles.clear()
    }
  }

  /** Build the shared artifact; see [[PreparedGraph]] — including its
    * cache-eviction caveat: don't mix one-shot overload calls over the
    * same edges frame with a live shared artifact. */
  def prepared(edges: DataFrame, src: String, dst: String): PreparedGraph =
    new PreparedGraph(edges, src, dst)

  /** One-shot wrapper: run `body` against a throwaway artifact, release
    * it after the result has been cut loose (every family member ends in
    * `localCheckpoint`, so unpersisting afterwards is safe). The
    * unpersist can evict a LIVE shared artifact's caches when both were
    * built over plan-identical edges — see the [[PreparedGraph]] caveat. */
  private def withPrepared(edges: DataFrame, src: String, dst: String)(
      body: PreparedGraph => DataFrame): DataFrame = {
    val g = prepared(edges, src, dst)
    try body(g) finally g.unpersist()
  }

  /**
   * Per-node triangle counts over an undirected edge list. Edges are
   * canonicalized (lower id first, self-loops and duplicates dropped);
   * emits (node, n_triangles) for every node in at least one triangle.
   *
   * Implementation is the degree-orientation (node-iterator++) algorithm:
   * orient every edge from its lower-(degree, id) endpoint to the higher;
   * each triangle then has exactly ONE apex whose two oriented out-edges
   * form the wedge, closed by a canonical-edge lookup. Wedge volume is
   * Σ out-deg², and orientation bounds out-degree by O(√m) — the hot
   * celebrity node of the naive wedge join (Σ deg² blowup) becomes a
   * wedge SINK instead of a wedge source. Three hash joins on node/edge
   * keys, no all-pairs step; this is the standard MapReduce/GraphX
   * triangle scheme.
   */
  def triangleCounts(edges: DataFrame, src: String, dst: String): DataFrame = {
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val oriented = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v")))
          .as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.u") === col("e2.u") &&
        col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("apex"), col("e1.v").as("a"),
        col("e2.v").as("b"))
    val triangles = wedges.join(e, Seq("a", "b"))
    triangles
      .select(explode(array(col("apex"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * PageRank over an undirected edge list, in SCALED-INTEGER fixed-point
   * arithmetic: ranks live in units of 10⁻¹² (initial rank = 10¹², the
   * damping step is `0.15·10¹² + (85 · Σ contrib) div 100` with integral
   * division). Floating-point PageRank is order-of-summation dependent —
   * a distributed group-sum of doubles is not reproducible run-to-run,
   * let alone across engines; integer contributions make every iteration
   * exact, deterministic, and oracle-checkable bit-for-bit. The floor
   * divisions lose < deg·10⁻¹² per node per round — noise at rank scale.
   *
   * Per iteration: one join of ranks onto the degree-annotated directed
   * edge list + one hash agg — the standard distributed PageRank round,
   * O(edges) shuffle, no driver data. Edges are canonicalized and doubled
   * (u→v, v→u), so every node has out-degree ≥ 1 and the dangling-mass
   * term vanishes.
   *
   * Iterations MATERIALIZE: the edge list + node set are derived once and
   * cached, and each round's ranks are persisted and rebased onto the
   * persisted RDD (`LogicalRDD` leaf) — the discipline of
   * [[graft.ext.DedupOps.connectedComponentsStar]]. A lazily-composed loop
   * embeds all i−1 predecessor plans inside iteration i's, so total work
   * is O(iters²) re-executions of the edge join and the plan tree itself
   * outgrows the driver at high iteration counts; per-round cuts make
   * every round O(edges) and the plan O(1)-deep regardless of `iterations`.
   * The returned frame is localCheckpoint-ed so callers own no cache.
   */
  /**
   * Per-cluster modularity terms of a node→cluster assignment against an
   * undirected edge list — the standard quality score for a dedup
   * clustering (how much denser are clusters than a random graph with the
   * same degrees). For cluster c: term = e_c/m − (d_c/(2m))², where e_c =
   * intra-cluster edges, d_c = Σ member degrees, m = total edges; total
   * modularity Q = Σ terms, emitted per-cluster so hot/weak clusters are
   * visible individually.
   *
   * Arithmetic is cross-engine exact: e_c, d_c, m are integers, each term
   * is two correctly-rounded IEEE divisions and one subtraction of the
   * exact integer inputs — no accumulation-order dependence anywhere, so
   * the doubles match any engine bit-for-bit without rounding tricks.
   *
   * Shape: canonical edges are derived once; one self-contained degree
   * aggregation, two node-keyed joins to attach cluster labels to edge
   * endpoints, one groupBy per side, and the scalar m rides a broadcast
   * single-row cross join — O(edges) shuffle, nothing driver-side.
   * Unassigned nodes (not in `assign`) are excluded from every sum, and
   * an edge counts as intra-cluster only when BOTH endpoints carry the
   * same label.
   */
  def modularity(edges: DataFrame, src: String, dst: String,
                 assign: DataFrame, nodeCol: String,
                 clusterCol: String): DataFrame = {
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
    val asg = assign.select(col(nodeCol).as("n"), col(clusterCol).as("c"))
      .distinct()
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val intra = e
      .join(asg.select(col("n").as("a"), col("c").as("ca")), "a")
      .join(asg.select(col("n").as("b"), col("c").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cluster")).agg(count(lit(1)).as("e_c"))
    val degSum = asg.join(deg, "n")
      .groupBy(col("c").as("cluster"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("d_c"))
    degSum.join(intra, Seq("cluster"), "left")
      .na.fill(0L, Seq("e_c"))
      .join(broadcast(m))
      .select(col("cluster"), col("n_nodes"), col("e_c"), col("d_c"),
        (col("e_c").cast("double") / col("m").cast("double") -
          (col("d_c") * col("d_c")).cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double"))
          .as("q_term"))
  }

  /**
   * Per-cluster conductance against an undirected edge list — the
   * complement of [[modularity]]: how leaky is each cluster's boundary.
   * For cluster c: cut_c = edges with exactly one endpoint labeled c,
   * vol_c = Σ member degrees, conductance = cut_c / min(vol_c, 2m −
   * vol_c). Near-0 = watertight cluster; near-1 = the "cluster" is mostly
   * boundary. Integer cut/vol with one IEEE division keeps the double
   * cross-engine exact. Same O(edges) join shape as [[modularity]]; an
   * edge with an unlabeled endpoint counts toward the labeled side's cut
   * (it leaves the cluster — where it lands doesn't matter).
   */
  def conductance(edges: DataFrame, src: String, dst: String,
                  assign: DataFrame, nodeCol: String,
                  clusterCol: String): DataFrame = {
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
    val asg = assign.select(col(nodeCol).as("n"), col(clusterCol).as("c"))
      .distinct()
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("n"))
      .unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val labeled = e
      .join(asg.select(col("n").as("a"), col("c").as("ca")), Seq("a"), "left")
      .join(asg.select(col("n").as("b"), col("c").as("cb")), Seq("b"), "left")
    // an edge leaving cluster x contributes one cut to x from EACH labeled
    // endpoint whose partner differs (a fully-internal edge contributes 0)
    val cut = labeled
      .select(explode(array(
        when(col("ca").isNotNull &&
          !(col("cb").isNotNull && col("cb") === col("ca")), col("ca")),
        when(col("cb").isNotNull &&
          !(col("ca").isNotNull && col("ca") === col("cb")), col("cb"))))
        .as("cluster"))
      .filter(col("cluster").isNotNull)
      .groupBy("cluster").agg(count(lit(1)).as("cut_c"))
    val vol = asg.join(deg, "n")
      .groupBy(col("c").as("cluster"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("vol_c"))
    vol.join(cut, Seq("cluster"), "left")
      .na.fill(0L, Seq("cut_c"))
      .join(broadcast(m))
      .select(col("cluster"), col("n_nodes"), col("cut_c"), col("vol_c"),
        (col("cut_c").cast("double") /
          least(col("vol_c"), lit(2L) * col("m") - col("vol_c"))
            .cast("double")).as("phi"))
  }

  /**
   * Personalized PageRank (seeded teleport) in the same scaled-integer
   * fixed point as [[pageRankScaled]]: rank mass teleports back to the
   * SEED set each round instead of spreading uniformly, so scores measure
   * dup-graph proximity to the seeds — the expansion primitive behind
   * "given these known-bad/known-gold docs, rank everything by how close
   * it sits in the duplicate graph". Initial rank 10¹² on seeds, 0
   * elsewhere; round: pr = [seed]·0.15·10¹² + 0.85·Σ contrib (integer
   * div). Same per-round persist/rebase discipline — O(edges) per round,
   * O(1)-deep plans at any iteration count.
   */
  def personalizedPageRankScaled(edges: DataFrame, src: String, dst: String,
                                 seeds: DataFrame, seedCol: String,
                                 iterations: Int): DataFrame =
    withPrepared(edges, src, dst)(
      personalizedPageRankScaled(_, seeds, seedCol, iterations))

  /** [[personalizedPageRankScaled]] off a shared [[PreparedGraph]]; only
    * the per-call seed flag is cached here (seeds vary per analysis, the
    * graph does not). */
  def personalizedPageRankScaled(g: PreparedGraph,
                                 seeds: DataFrame, seedCol: String,
                                 iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"bad iterations $iterations")
    val nodes = g.nodes
      .join(seeds.select(col(seedCol).as("node")).distinct()
          .withColumn("__seed", lit(1)),
        Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, 1L).otherwise(0L).as("is_seed"))
      .persist()
    // the receiver's seed flag rides the STATIC edge frame (one join
    // before the loop) instead of a per-round join of the rank frame
    // back onto `nodes`: bi is symmetric, so every node receives at
    // least one contribution row and the old left-join's coalesce(s, 0)
    // branch was dead — dropping it removes a whole join (two exchanges
    // plus a pass over the node set) from every round at any scale
    val eSeed = g.biDeg
      .join(nodes.select(col("node").as("v"), col("is_seed")), "v")
      .persist()
    var (pr, prRelease) = checkpointCut(
      nodes.withColumn("pr", col("is_seed") * lit(1000000000000L))
        .select("node", "pr"))
    for (_ <- 1 to iterations) {
      val (next, nextRelease) = checkpointCut(
        eSeed.join(pr, eSeed("u") === pr("node"))
          .selectExpr("v AS node", "is_seed", "pr div deg AS c")
          .groupBy("node", "is_seed").agg(sum(col("c")).as("s"))
          .selectExpr("node",
            "is_seed * 150000000000 + (85 * s) div 100 AS pr"))
      prRelease()
      pr = next
      prRelease = nextRelease
    }
    // pr is already lineage-cut; its blocks are released by the
    // ContextCleaner once the caller drops the frame (the
    // [[graft.ext.DedupOps.connectedComponents]] return discipline) —
    // the final release thunk is deliberately NOT invoked.
    eSeed.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    pr
  }

  /** Materialize one iteration's frame and TRULY cut its lineage:
    * eager `localCheckpoint` truncates both the logical plan AND the
    * physical RDD dependency chain. persist()+rdd-rebase
    * ([[Iterate.cut]]) truncates only the logical plan — each round's
    * serialized task binary still references the full RDD object graph
    * of every previous round (ShuffleDependency links are not pruned at
    * stage boundaries), and ~50 accumulated rounds overflow the task
    * DESERIALIZER's stack (pinned by CdcStatsSpec's 50-iteration
    * PageRank test). Returns the checkpointed frame plus a release
    * thunk that frees the checkpoint blocks (the LogicalRDD leaf's
    * RDD) once the next round has materialized.
    *
    * Local mode only: the checkpoint blocks are unreplicated executor
    * storage, and releasing the previous round drops the lineage that
    * could rebuild them. In local mode the driver is the only executor,
    * so a lost block means a lost application anyway; on a cluster an
    * executor lost mid-loop would fail the query ("checkpoint block not
    * found") instead of recomputing. */
  private def checkpointCut(df: DataFrame): (DataFrame, () => Unit) = {
    val p = df.localCheckpoint()
    val release = () => p.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ =>
    }
    (p, release)
  }

  /**
   * Bounded-iteration k-core peel over an undirected edge list: `rounds`
   * times, drop every node whose degree among current survivors is < k;
   * emit the survivors with their degree inside the final survivor set.
   * With rounds ≥ the peel depth this IS the k-core; bounding the rounds
   * keeps the operator oracle-checkable (the check unrolls the same fixed
   * peels) and the cost predictable — the production pattern for "strip
   * low-engagement fringe off the dup graph before expensive clustering".
   *
   * Each round is one broadcast-or-shuffle semi-join of the static doubled
   * edge list against the (shrinking) survivor set plus one count
   * aggregation — O(edges) per round. Survivor sets are persisted and
   * plan-rebased per round ([[graft.ext.DedupOps.connectedComponentsStar]]
   * discipline): without the cut, round i's plan embeds all i−1
   * predecessors and the loop degenerates to O(rounds²) edge scans.
   */
  def kCoreBounded(edges: DataFrame, src: String, dst: String,
                   k: Int, rounds: Int): DataFrame =
    withPrepared(edges, src, dst)(kCoreBounded(_, k, rounds))

  /** [[kCoreBounded]] off a shared [[PreparedGraph]] — walks only the
    * symmetric edge list; the artifact's lazy degree frames stay unbuilt
    * unless some other family member needs them. */
  def kCoreBounded(g: PreparedGraph, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && rounds <= 50,
      s"bad k=$k rounds=$rounds")
    var (s, sHandle) =
      Iterate.cut(g.bi.select(col("u").as("n")).distinct())
    for (_ <- 1 to rounds) {
      val surv = g.bi
        .join(s.select(col("n").as("u")), "u")
        .join(s.select(col("n").as("v")), "v")
        .groupBy(col("u").as("n")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("n")
      val (next, nextHandle) = Iterate.cut(surv)
      sHandle.unpersist(blocking = false)
      s = next
      sHandle = nextHandle
    }
    val out = g.bi
      .join(s.select(col("n").as("u")), "u")
      .join(s.select(col("n").as("v")), "v")
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    sHandle.unpersist(blocking = false)
    out
  }

  def pageRankScaled(edges: DataFrame, src: String, dst: String,
                     iterations: Int): DataFrame =
    withPrepared(edges, src, dst)(pageRankScaled(_, iterations))

  /** [[pageRankScaled]] off a shared [[PreparedGraph]] — the static
    * canonicalize + union + degree frame is the artifact's cache, paid
    * once across the whole graph-query family. */
  def pageRankScaled(g: PreparedGraph, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"bad iterations $iterations")
    // Rounds materialize via [[checkpointCut]] (eager localCheckpoint):
    // a TRUE lineage cut per round — see its scaladoc for why the
    // persist+rdd-rebase form is not enough here. No per-round left-join
    // back onto `nodes`: bi is symmetric, so contrib already covers
    // every node and the coalesce(s, 0) branch was dead — one join (two
    // exchanges plus a pass over the node set) gone per round at any
    // scale.
    var (pr, prRelease) = checkpointCut(
      g.nodes.withColumn("pr", lit(1000000000000L)))
    for (_ <- 1 to iterations) {
      val (next, nextRelease) = checkpointCut(
        g.biDeg
          .join(pr, g.biDeg("u") === pr("node"))
          .selectExpr("v AS node", "pr div deg AS c")
          .groupBy("node").agg(sum(col("c")).as("s"))
          .selectExpr("node",
            "150000000000 + (85 * s) div 100 AS pr"))
      prRelease()
      pr = next
      prRelease = nextRelease
    }
    // already lineage-cut; blocks released by the ContextCleaner once
    // the caller drops the frame
    pr
  }

  /**
   * Synchronous LABEL-PROPAGATION community detection (Raghavan et al.)
   * over an undirected edge list, bounded rounds: every node starts
   * labeled with its own id; each round every node simultaneously adopts
   * its most frequent NEIGHBOR label, ties to the smaller label. Where
   * min-label connected components track pure CONNECTIVITY (one bridge
   * edge fuses two template families forever), LPA tracks DENSITY — the
   * bridge is outvoted by each family's internal edges, so the
   * communities [[modularity]] scores highly actually emerge. Community
   * labels after `rounds` rounds are the deliverable; convergence is not
   * asserted (classic LPA may oscillate on bipartite structures —
   * bounded synchronous rounds are the deterministic production form).
   *
   * Deterministic: votes are exact integer counts, the adopt step is a
   * `max_by (count, −label)` argmax (ties → smaller label), rounds are
   * fixed — partition-invariant and replayable by SQL round-unrolling.
   *
   * Scale: per round one neighbor-label equi-join + two hash
   * aggregations — O(edges) per round; per-round persist/rebase keeps
   * the plan constant-depth (the [[pageRankScaled]] discipline).
   */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
                       rounds: Int): DataFrame =
    withPrepared(edges, src, dst)(labelPropagation(_, rounds))

  /** [[labelPropagation]] off a shared [[PreparedGraph]]. */
  def labelPropagation(g: PreparedGraph, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"bad rounds $rounds")
    var (labels, handle) = Iterate.cut(
      g.nodes.withColumn("label", col("node")))
    for (_ <- 1 to rounds) {
      // every node appears as some v (bi is symmetric), so the vote
      // covers the whole node set — no keep-old-label branch needed
      val (next, nextHandle) = Iterate.cut(
        g.bi.join(labels, g.bi("u") === labels("node"))
          .select(col("v").as("node"), col("label"))
          .groupBy("node", "label").agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("b"))
          .select(col("node"), (-col("b.nl")).as("label")))
      handle.unpersist(blocking = false)
      labels = next
      handle = nextHandle
    }
    val result = labels.localCheckpoint()
    handle.unpersist(blocking = false)
    result
  }

  /**
   * Pair-counting AGREEMENT between two clusterings of the same id set —
   * Rand index and Adjusted Rand Index from the contingency table. The
   * clustering-churn audit: compare a ClusterStore version against its
   * successor ("did the re-cluster move anything material"), or CC
   * (connectivity) against [[labelPropagation]] (density) to measure how
   * much bridge-merging the connectivity view does.
   *
   * One row: (n, n_pairs, sij = Σ C(n_ij,2), sa = Σ C(a_i,2), sb =
   * Σ C(b_j,2), rand_index, adjusted_rand), indices 6dp. ARI is 1 for
   * identical clusterings, ~0 for independent ones; NaN only on
   * degenerate inputs (n < 2 or both clusterings trivial).
   *
   * Deterministic: all C(·,2) terms are exact integer arithmetic
   * (`div`, no doubles until the two final index divisions, fixed
   * expression order).
   *
   * Scale: one id equi-join + a contingency aggregate bounded by the
   * co-cluster-pair cardinality; the C(·,2) sums reduce to a 1-row
   * artifact — pairs are COUNTED via the contingency identity, never
   * materialized (the naive pairs-within-cluster join is quadratic).
   * ALL four statistics (n, sij, sa, sb) derive from the ONE
   * (ca, cb, nij) contingency grid: n = Σ nij and the marginals
   * a_i / b_j are row/column sums of the grid, so the id join and its
   * exchange run once (Catalyst reuses the identical grid-aggregate
   * exchange across the branches) instead of once per statistic — the
   * pre-r15 form re-joined and re-shuffled the full input four times.
   */
  def clusterAgreement(a: DataFrame, aId: String, aCl: String,
                       b: DataFrame, bId: String, bCl: String): DataFrame = {
    val j = a.select(col(aId).as("id"), col(aCl).as("ca"))
      .join(b.select(col(bId).as("id"), col(bCl).as("cb")), "id")
    def c2(name: String) = expr(s"($name * ($name - 1)) div 2")
    val cells = j.groupBy("ca", "cb").agg(count(lit(1)).as("nij"))
    val sij = cells.agg(sum(c2("nij")).as("sij"))
    val sa = cells.groupBy("ca").agg(sum(col("nij")).as("na"))
      .agg(sum(c2("na")).as("sa"))
    val sb = cells.groupBy("cb").agg(sum(col("nij")).as("nb"))
      .agg(sum(c2("nb")).as("sb"))
    // coalesce: sum over an empty grid is NULL where the old count-based
    // form gave 0 — keep the degenerate-input contract bit-identical
    cells.agg(coalesce(sum(col("nij")), lit(0L)).as("n"))
      .crossJoin(broadcast(sij)).crossJoin(broadcast(sa))
      .crossJoin(broadcast(sb))
      .withColumn("n_pairs", c2("n"))
      .select(col("n"), col("n_pairs"), col("sij"), col("sa"), col("sb"),
        round((col("n_pairs") + lit(2L) * col("sij") - col("sa") -
          col("sb")).cast("double") / col("n_pairs"), 6).as("rand_index"),
        round((col("sij").cast("double") -
          col("sa").cast("double") * col("sb") / col("n_pairs")) /
          ((col("sa") + col("sb")).cast("double") / 2 -
            col("sa").cast("double") * col("sb") / col("n_pairs")), 6)
          .as("adjusted_rand"))
  }

  /**
   * Bounded multi-source BFS — hop distance from a SEED SET through an
   * undirected graph, `rounds` hops deep. The blast-radius primitive:
   * "every doc within 3 dup-graph hops of a known-bad seed" (takedown
   * expansion), or "how far does this template family reach". Where
   * [[personalizedPageRankScaled]] scores proximity continuously, this
   * answers the hard reachability question with the exact hop count.
   *
   * Emits (node, hop) for every node REACHED within `rounds` hops —
   * hop 0 for the seeds themselves (seeds outside the edge set are
   * kept: an isolated seed is still distance 0 from itself); unreached
   * nodes are absent, which IS the answer for them.
   *
   * Deterministic: hops are exact integers and each round is a
   * min-aggregate — partition- and tie-order-invariant, replayable by
   * SQL round-unrolling.
   *
   * Scale: per round one frontier-neighbor equi-join + a min
   * aggregate — O(edges) per round like [[labelPropagation]]; the
   * per-round persist/rebase keeps the plan constant-depth, and state
   * is one (node, hop) row per reached node, never per path.
   */
  def bfsHops(edges: DataFrame, src: String, dst: String,
              seeds: DataFrame, seedCol: String, rounds: Int): DataFrame =
    withPrepared(edges, src, dst)(bfsHops(_, seeds, seedCol, rounds))

  /** [[bfsHops]] off a shared [[PreparedGraph]]. */
  def bfsHops(g: PreparedGraph,
              seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50, s"bad rounds $rounds")
    var (dist, handle) = Iterate.cut(
      seeds.select(col(seedCol).as("node")).distinct()
        .filter(col("node").isNotNull)
        .withColumn("hop", lit(0L)))
    for (_ <- 1 to rounds) {
      val (next, nextHandle) = Iterate.cut(
        g.bi.join(dist, g.bi("u") === dist("node"))
          .select(col("v").as("node"), (col("hop") + 1).as("hop"))
          .unionAll(dist.select(col("node"), col("hop")))
          .groupBy("node").agg(min(col("hop")).as("hop")))
      handle.unpersist(blocking = false)
      dist = next
      handle = nextHandle
    }
    val result = dist.localCheckpoint()
    handle.unpersist(blocking = false)
    result
  }

  /**
   * DEGREE ASSORTATIVITY — Pearson correlation of the degrees at the two
   * ends of every edge (Newman's r): do high-degree nodes attach to each
   * other (r > 0, a social-network signature) or to the fringe (r < 0,
   * hub-and-spoke — the shape a boilerplate template hub imposes on a
   * dup graph)? The one-number STRUCTURE audit beside the degree
   * histogram: the histogram says hubs exist, assortativity says what
   * they connect to — disassortative dup graphs mean cluster sizes are
   * hub-driven and keep-best selection inherits a few giant families.
   *
   * One row: (n_nodes, n_edges, assortativity 6dp) over the symmetric
   * directed edge list (each undirected edge contributes both
   * directions — the standard estimator; r is NULL on degenerate
   * graphs where either endpoint degree sequence is constant).
   *
   * Deterministic: degrees are exact integers; the five moments sum in
   * DECIMAL(38,0) (order-invariant), and only the final correlation
   * divides in doubles — one pinned expression.
   *
   * Scale: one degree aggregate + two degree equi-joins back to the
   * edge list + a 1-row moment rollup — O(edges), no windows, nothing
   * quadratic; the degree table broadcasts when it fits.
   */
  def degreeAssortativity(edges: DataFrame, src: String,
                          dst: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
    val bi = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = bi.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val pairs = bi
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val m = pairs.agg(
      count(lit(1)).as("m"),
      sum(col("du").cast(dec)).as("sx"),
      sum(col("dv").cast(dec)).as("sy"),
      sum((col("du") * col("du")).cast(dec)).as("sxx"),
      sum((col("dv") * col("dv")).cast(dec)).as("syy"),
      sum((col("du") * col("dv")).cast(dec)).as("sxy"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val dx = (col("m").cast(dec) * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val dy = (col("m").cast(dec) * col("syy") - col("sy") * col("sy"))
      .cast("double")
    val num = (col("m").cast(dec) * col("sxy") - col("sx") * col("sy"))
      .cast("double")
    m.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), (col("m") / 2).cast("long").as("n_edges"),
        when(dx > 0 && dy > 0,
          round(num / sqrt(dx * dy), 6)).as("assortativity"))
  }

  /**
   * ADAMIC–ADAR link prediction — for every NON-adjacent node pair at
   * distance 2, the classic common-neighbor score
   * `aa = Σ_w 1/ln(deg(w))` over their common neighbors w (rare shared
   * neighbors are strong evidence, hub co-membership is weak). On a dup
   * graph this ranks the pairs the pairwise tiers MISSED: two docs that
   * never collided directly but share near-dup neighbors are the
   * transitive-duplicate candidates worth re-verifying — the
   * link-prediction face of connected components (CC merges what IS
   * connected; this scores what PROBABLY SHOULD be).
   *
   * Emits (u, v, n_common, aa_score 6dp), u < v, existing edges
   * excluded. Deterministic: per-center terms 6dp-rounded then
   * DECIMAL-summed (order-invariant), one final double round.
   *
   * Scale: wedge enumeration per CENTER node — volume Σ deg(w)², with
   * `maxCenterDegree` capping hub centers exactly like the df-caps on
   * the shingle tiers (a hub's 1/ln(deg) term is the weakest evidence
   * in the formula AND its wedge volume is quadratic — dropping it cuts
   * the blowup while biasing scores DOWN only, never inventing a pair).
   * Two hash joins + one hash agg + one anti-join; never all-pairs.
   */
  /**
   * LOCAL CLUSTERING COEFFICIENTS — per node with degree ≥ 2, the
   * fraction of its neighbor pairs that are themselves connected:
   * `2·triangles(v) / (deg(v)·(deg(v)−1))`. The community-density lens
   * on the dup graph: coefficient ≈ 1 inside tight template families
   * (every neighbor pair also collided), ≈ 0 around incidental hubs —
   * beside [[triangleCounts]]' absolute counts this is the normalized,
   * cross-node-comparable form (a 100-triangle hub can be LESS clustered
   * than a 1-triangle leaf pair).
   *
   * Emits (node, deg, n_triangles, clustering_coeff 6dp); zero-triangle
   * nodes included at 0.0, degree-1 nodes excluded (undefined
   * denominator).
   *
   * Scale: [[triangleCounts]]' degree-oriented wedge scheme (out-degree
   * O(√m), never all-pairs) + one degree aggregate + one left join —
   * everything node- or edge-sized.
   */
  def clusteringCoefficients(edges: DataFrame, src: String,
                             dst: String): DataFrame = {
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triangleCounts(edges, src, dst), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0 /
          (col("deg") * (col("deg") - 1)).cast("double"), 6)
          .as("clustering_coeff"))
  }

  def adamicAdar(edges: DataFrame, src: String, dst: String,
                 maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    require(maxCenterDegree >= 2, s"maxCenterDegree $maxCenterDegree < 2")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val e = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull)
      .distinct()
    val bi = e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))
    val deg = bi.groupBy("w").agg(count(lit(1)).as("d"))
    val adj = bi.join(deg.filter(col("d") <= maxCenterDegree), "w")
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("v"),
        round(lit(1.0) / log(col("x.d").cast("double")), 6).cast(dec)
          .as("__term"))
    wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        round(sum(col("__term")).cast("double"), 6).as("aa_score"))
      .join(e.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
  }
}
