package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped staged-table registry — the "compute once, read many"
  * seam shared by every query family whose members consume a common
  * expensive prefix (the sketch family's shingle-hash stream, the
  * composed pipeline's quality-survivor corpus and MinHash signature
  * table). At 100 TB each staged frame IS a persisted table maintained
  * by the platform (the reference's own lifecycle stores its enrichment
  * products between pipeline stages rather than recomputing them,
  * idb/postgres_backend/db.py to_indexes flow); in this single-process
  * harness the moral equivalent is a persisted DataFrame keyed by
  * (session, key) so Verify/Bench driving many queries through one
  * session pay each staging exactly once.
  *
  * LIFECYCLE (the round-14 hygiene gap): entries previously lived in ad
  * hoc static maps for the life of the process — stopped sessions
  * stayed strongly referenced and executor storage grew without bound
  * across sfDirs. This registry closes that:
  *   - [[evict]] / [[evictSession]] unpersist and drop entries on
  *     demand (the harness/spec hook);
  *   - an application-end listener installed per session drops every
  *     entry of a stopping session (no unpersist call — the storage
  *     dies with the context; the point is releasing the strong refs);
  *   - re-staging after evict rebuilds from scratch, so a regenerated
  *     fixture at the same dir is served fresh by `evict` + re-run.
  *
  * Iterative operators ([[operators.Graph.kCoreNumbers]] and kin) have
  * the same lifetime problem for lineage cuts: their result frame is an
  * [[operators.Graph.cut]] whose blocks must stay pinned until the
  * caller is done with the result — [[registerPinned]] tracks those so
  * [[releasePinned]] (or session end) can free them instead of leaking
  * one pinned block set per invocation forever.
  */
object Staging {

  /** Lazily-built staged entry. The map's computeIfAbsent only ever
    * CREATES holders (cheap, no Spark jobs inside the map's bucket
    * lock); the builder itself runs under the holder's own lazy-val
    * monitor, so a builder that stages a DIFFERENT key re-enters the
    * map safely — the ConcurrentHashMap recursive-update hazard the
    * previous build-inside-computeIfAbsent shape only avoided by
    * caller convention.
    *
    * Evict-during-build: [[markEvicted]] and the builder's completion
    * step coordinate on a SEPARATE small lock (not the lazy-val
    * monitor, so evict never blocks behind a running build): whichever
    * runs second unpersists the frame, so an entry evicted while its
    * builder is in flight is unpersisted the moment the build lands
    * instead of becoming an untracked persisted frame nothing can ever
    * release. */
  private final class Holder(build: () => DataFrame) {
    private val lock = new Object
    private var built: DataFrame = _
    private var evicted = false
    lazy val df: DataFrame = {
      val d = build()
      lock.synchronized {
        built = d
        if (evicted) d.unpersist(blocking = false)
      }
      d
    }
    def markEvicted(): Unit = lock.synchronized {
      evicted = true
      if (built != null) built.unpersist(blocking = false)
    }
  }

  private val cache =
    new ConcurrentHashMap[(SparkSession, String), Holder]()
  private val pinned =
    new ConcurrentHashMap[SparkSession, java.util.List[RDD[_]]]()
  private val hooked =
    ConcurrentHashMap.newKeySet[SparkSession]()
  /** Keys whose builder is running on THIS thread — same-thread
    * re-entry on the same key would recurse through the holder's lazy
    * val forever; fail it with a message naming the cycle instead. */
  private val inFlight =
    ThreadLocal.withInitial[java.util.HashSet[(SparkSession, String)]](
      () => new java.util.HashSet[(SparkSession, String)]())
  /** Key → the thread currently RUNNING its builder, and thread → the
    * key it is currently blocked staging: together the wait-for graph
    * that makes CROSS-THREAD stage cycles fail fast (an
    * IllegalStateException naming the cycle) instead of deadlocking on
    * the holders' lazy-val monitors. Every participant publishes its
    * `waitingFor` edge BEFORE walking the graph, so for any genuine
    * cycle the last thread to publish sees the complete chain —
    * detection is sound for cycles whose members all come through
    * [[stage]]. */
  private val building =
    new ConcurrentHashMap[(SparkSession, String), Thread]()
  private val waitingFor =
    new ConcurrentHashMap[Thread, (SparkSession, String)]()
  /** Wall seconds each staged key's build+materialize took (kept past
    * eviction within the session — the record is the point). */
  private val timings =
    new ConcurrentHashMap[(SparkSession, String), Double]()

  /** Build seconds per staged key for `s` — Bench emits this as the
    * JSON "staging" map so a staged-prefix regression is attributable
    * to its key without a BenchSubset bisect. */
  def buildSeconds(s: SparkSession): Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    timings.forEach { (k, v) => if (k._1 eq s) b += k._2 -> v }
    b.result()
  }

  /** Walk builder-of(k) → waiting-on → builder-of(...) looking for
    * `me`; throws naming the cycle if found. */
  private def failOnCycle(k: (SparkSession, String), me: Thread): Unit = {
    var cur = building.get(k)
    val seen = new java.util.HashSet[Thread]()
    val chain = new StringBuilder(s"'${k._2}'")
    while (cur != null && seen.add(cur)) {
      if (cur eq me)
        throw new IllegalStateException(
          s"Staging.stage detected a cross-thread stage CYCLE: " +
            s"waiting for ${chain.result()} would deadlock " +
            "— stage prerequisites acyclically or hoist them out of " +
            "the builders")
      val wk = waitingFor.get(cur)
      if (wk == null) return
      chain.append(s" -> '${wk._2}'")
      cur = building.get(wk)
    }
  }

  /** Get-or-build the staged frame for `key` in session `s`. The
    * builder runs at most once per (session, key) until evicted; its
    * result is persisted MEMORY_AND_DISK. Builders MAY stage other
    * (acyclic) prerequisite keys — the build runs outside the map's
    * lock; a same-thread self-cycle (a builder transitively staging
    * its own key) and a cross-thread cycle (two threads' builders
    * staging each other's keys) both fail fast with the cycle named.
    * Cross-thread same-key callers block on the holder until the one
    * running builder finishes. */
  def stage(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    installHook(s)
    val k = (s, key)
    if (inFlight.get.contains(k))
      throw new IllegalStateException(
        s"Staging.stage('$key') re-entered from inside its own builder " +
          "— stage cycles are not allowed; resolve the prerequisite " +
          "under a different key or hoist it out of the builder")
    val holder = cache.computeIfAbsent(k, _ => new Holder(() => {
      building.put(k, Thread.currentThread())
      inFlight.get.add(k)
      try {
        val t0 = System.nanoTime()
        val d = build.persist(StorageLevel.MEMORY_AND_DISK)
        // materialize NOW and bill the build to the registry: left
        // lazy, the whole staging cost lands on whichever consumer
        // happens to run first (alphabetical in a Verify/Bench sweep),
        // making staged-prefix regressions unattributable without a
        // bisect — the per-key timings surface in Bench's "staging"
        // map instead. A failed materialization must drop its own
        // persist marking (the Graph.cut discipline) — evict can
        // free nothing for a holder whose `built` never landed.
        try d.count()
        catch { case t: Throwable => d.unpersist(blocking = false); throw t }
        timings.put(k, (System.nanoTime() - t0) / 1e9)
        d
      } finally {
        inFlight.get.remove(k)
        // two-arg remove: an evicted-during-build key may already be
        // re-staged with a NEW builder thread owning the entry — this
        // builder must only clear its own registration, or cycle
        // detection goes blind to the live builder
        building.remove(k, Thread.currentThread())
      }
    }))
    val me = Thread.currentThread()
    // nested stage calls (a builder staging a prerequisite) restore the
    // outer edge on return so the wait-for graph stays accurate for the
    // remainder of the outer build
    val prev = waitingFor.put(me, k)
    try {
      failOnCycle(k, me)
      holder.df
    } finally {
      if (prev != null) waitingFor.put(me, prev) else waitingFor.remove(me)
    }
  }

  /** Unpersist and drop one staged entry; true iff it existed. An
    * entry whose builder is still in flight is marked: the builder
    * unpersists its own result on completion (see [[Holder]]). */
  def evict(s: SparkSession, key: String): Boolean = {
    val h = cache.remove((s, key))
    if (h != null) { h.markEvicted(); true } else false
  }

  /** Unpersist and drop every staged entry and pinned RDD of `s`
    * (harness hook for long-lived multi-tenant sessions; also what a
    * fixture regeneration at the same dir should call). Returns the
    * number of staged entries dropped. */
  def evictSession(s: SparkSession): Int = {
    var n = 0
    cache.keySet.forEach { k =>
      if (k._1 eq s) { if (evict(s, k._2)) n += 1 }
    }
    releasePinned(s)
    n
  }

  /** Pins registered while a [[pinScope]] is open on this thread land
    * in the scope instead of the session list. */
  private val scopePins =
    ThreadLocal.withInitial[java.util.ArrayDeque[java.util.ArrayList[RDD[_]]]](
      () => new java.util.ArrayDeque[java.util.ArrayList[RDD[_]]]())

  /** Track a frame [[operators.Graph.cut]] returned — one that backs a
    * result handed to the caller — so its pinned blocks can be freed
    * once the caller is done ([[releasePinned]]) instead of living for
    * the process. Inside an open [[pinScope]] on the calling thread,
    * the pin is scope-local and released when the scope closes.
    * Returns `cut`; throws if it is not a cut (see
    * [[operators.Graph.release]]). */
  def registerPinned(s: SparkSession, cut: DataFrame): DataFrame = {
    val rdd = operators.Graph.cutRdd(cut)
    val scope = scopePins.get.peek()
    if (scope != null) scope.add(rdd)
    else {
      installHook(s)
      pinned.computeIfAbsent(s,
        _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[RDD[_]]())).add(rdd)
    }
    cut
  }

  /** Run `body` with a pin SCOPE on this thread: every
    * [[registerPinned]] issued inside (same thread) is released when
    * the scope closes, success or failure — the shape a per-batch
    * driver loop needs, where iterative operators' result pins are
    * transient (consumed into the batch's own lineage cuts) and would
    * otherwise accumulate one block set per batch in the session
    * registry for the life of the stream. Nested scopes release to
    * the innermost open scope. */
  def pinScope[T](body: => T): T = {
    val scope = new java.util.ArrayList[RDD[_]]()
    scopePins.get.push(scope)
    try body
    finally {
      scopePins.get.pop()
      scope.forEach(r => r.unpersist(blocking = false))
    }
  }

  /** Unpersist every pinned RDD registered for `s`. Result frames
    * returned by the iterative operators become unreadable after this
    * — call only once their consumers have materialized. Returns the
    * number of RDDs released. */
  def releasePinned(s: SparkSession): Int = {
    val list = pinned.remove(s)
    if (list == null) 0
    else {
      var n = 0
      list.forEach { r => r.unpersist(blocking = false); n += 1 }
      n
    }
  }

  /** Entries currently staged for `s` (spec/introspection hook). */
  def stagedKeys(s: SparkSession): Set[String] = {
    val b = Set.newBuilder[String]
    cache.keySet.forEach { k => if (k._1 eq s) b += k._2 }
    b.result()
  }

  private def installHook(s: SparkSession): Unit =
    if (hooked.add(s))
      // On application end the storage dies with the context; dropping
      // the strong references is the cleanup that matters here.
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit = {
          cache.keySet.forEach { k => if (k._1 eq s) cache.remove(k) }
          timings.keySet.forEach { k => if (k._1 eq s) timings.remove(k) }
          pinned.remove(s)
          hooked.remove(s)
        }
      })
}
