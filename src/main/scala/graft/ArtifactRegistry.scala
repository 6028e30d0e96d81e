package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** The one memo for the engine's shared artifacts (cluster stores,
  * shingle/winnow indexes, trained models, prepared graphs, basket
  * frames, …) and the build-lifecycle record behind it.
  *
  * [[memo]] keeps one slot per key. A build runs under that key's own
  * lock, never inside a map operation, so one artifact's build may
  * `memo` another (the wave stores build the shared ingest base from
  * inside their own build). Two lifetimes:
  *
  *   - JVM-scoped (no session): disk-store roots and driver-side models
  *     are kept for the life of the JVM;
  *   - session-bound: persisted frames, the shingle index, prepared
  *     graphs and LPA labels hold handles on the SparkSession that built
  *     them, so a call from a different session rebuilds (a same-JVM
  *     session restart would otherwise hand back handles on a dead
  *     context; dropping the old reference is the whole cleanup).
  *
  * Round 14 proved the failure mode the record exists to expose:
  * `q_item_cf_topk` silently paid an ~11 s cold rebuild whenever other
  * queries' persists evicted the shared basket frame mid-bench — the
  * cost was charged to an innocent query and NOTHING recorded that a
  * rebuild had happened. Every build is therefore timed:
  *
  *   - build count + wall seconds are recorded per artifact key;
  *   - any key building more than once in a JVM logs a LOUD stderr
  *     line at build time (a second build is either a session restart
  *     — legitimate, visible — or a memoization bug);
  *   - [[Bench]] emits the full per-artifact map in `bench_out.json`
  *     and rebuild totals on the stdout summary line, and
  *     `ArtifactBuildOnceSpec` asserts a full `SparkEntry.queries`
  *     sweep builds every artifact exactly once.
  *
  * Scope note: the seconds are the build lambda's own (nested builds
  * excluded). For disk stores that
  * lambda runs the whole build job, so the seconds are the true build
  * cost. For persisted DataFrames the lambda constructs the plan and
  * calls `.persist()` — materialization is lazy and rides the FIRST
  * consumer's action, so block-level cache eviction recomputes
  * silently without re-entering the memo. That second failure mode is
  * covered by [[Bench]]'s storage snapshots (`sc.getRDDStorageInfo`
  * diffs between queries → spill/drop events), not by these counters;
  * the two instruments are designed as a pair.
  */
object ArtifactRegistry {

  /** One completed build: which artifact, how long the build lambda
    * ran, and the 1-based build ordinal for the key in this JVM. */
  final case class BuildEvent(key: String, seconds: Double, nth: Int)

  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private val totalSecs = new ConcurrentHashMap[String, java.lang.Double]()
  private val events =
    new java.util.concurrent.ConcurrentLinkedQueue[BuildEvent]()

  /** One memo entry; its monitor is the key's build lock. */
  private final class Slot {
    var value: Option[Any] = None
    var session: Option[SparkSession] = None
  }
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** The artifact under `key`, built by `build` on first use. With a
    * `session`, the entry is bound to it and rebuilt when called from a
    * different session; without one it lives as long as the JVM. */
  def memo[T](key: String, session: Option[SparkSession] = None)
             (build: => T): T = {
    val slot = slots.computeIfAbsent(key, _ => new Slot)
    slot.synchronized {
      val live = slot.value.isDefined &&
        session.forall(s => slot.session.exists(_ eq s))
      if (!live) {
        slot.value = Some(timed(key)(build))
        slot.session = session
      }
      slot.value.get.asInstanceOf[T]
    }
  }

  /** Nanoseconds this thread has spent in builds nested inside the
    * build now running on it. */
  private val nestedNs = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Count and time one build, and shout on any build after the first.
    * The recorded seconds are the build's own: builds it triggers through
    * [[memo]] are timed under their own keys and subtracted, so the
    * per-key seconds sum to the total build time. */
  private def timed[T](key: String)(build: => T): T = {
    val outer = nestedNs.get
    nestedNs.set(0L)
    val t0 = System.nanoTime()
    var inner = 0L
    val out =
      try build
      finally {
        inner = nestedNs.get
        nestedNs.set(outer + (System.nanoTime() - t0))
      }
    val sec = (System.nanoTime() - t0 - inner) / 1e9
    val nth = counts.computeIfAbsent(key, _ => new AtomicInteger(0))
      .incrementAndGet()
    totalSecs.merge(key, sec, (a, b) => a + b)
    events.add(BuildEvent(key, sec, nth))
    if (nth > 1)
      System.err.println(
        f"[artifact] REBUILD #$nth%d of '$key' took $sec%.3f s — " +
          "session restart or memoization bug; bench timings for the " +
          "triggering query are polluted")
    out
  }

  /** (build count, total build seconds) per artifact key. */
  def snapshot(): Map[String, (Int, Double)] = {
    val it = counts.entrySet().iterator()
    val b = Map.newBuilder[String, (Int, Double)]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> ((e.getValue.get(),
        Option(totalSecs.get(e.getKey)).fold(0.0)(_.doubleValue())))
    }
    b.result()
  }

  /** Ordered build history (insertion order, across threads). */
  def history(): Seq[BuildEvent] = {
    val b = Seq.newBuilder[BuildEvent]
    events.forEach(e => b += e)
    b.result()
  }
}
