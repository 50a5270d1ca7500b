package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Registry of per-(session, corpus dir) materialized DataFrame
  * artifacts — the posting index, LSH candidate/confirmed pair sets,
  * quantized vectors, ordinal index. These are the local-mode analog of
  * tables a 100 TB pipeline writes once and shares across queries; here
  * they persist at MEMORY_AND_DISK (spill, never recompute).
  *
  * Lifecycle contract (replaces the round-2 per-module TrieMaps, which
  * leaked and could double-build under a concurrent first touch):
  *
  *  - '''single build per key''': the builder runs at most once per
  *    (session, dir, kind). `computeIfAbsent` only installs a cheap lazy
  *    holder, so nested `memo` calls inside a builder (confirmed pairs →
  *    candidate pairs → postings) never recursively update the map; the
  *    actual build is serialized by the holder's `lazy val`.
  *  - '''eviction''': [[clear]] unpersists and drops entries — per
  *    session, or everything. A session-end listener is registered on
  *    first use so a stopping application releases its cached blocks.
  *  - '''immutability assumption''': a corpus dir is assumed immutable
  *    for the lifetime of the session — if files under `dir` change,
  *    call [[clear]] to invalidate, otherwise reads serve stale data.
  */
object Caches {

  private final class Holder(build: () => DataFrame) {
    @volatile private var builtOpt: Option[DataFrame] = None
    lazy val df: DataFrame = { val d = build(); builtOpt = Some(d); d }
    /** The frame if the lazy build ever ran (only those need unpersist). */
    def peek: Option[DataFrame] = builtOpt
  }

  private val entries =
    new ConcurrentHashMap[(SparkSession, String, String), Holder]()
  private val hooked =
    java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[SparkSession, java.lang.Boolean]())
  // Caches derived from RAW CORPUS TABLES only (not from replaceable
  // artifacts — e.g. FrozenLayout's range layouts): these stay valid
  // across replace() and are evicted only on clear()/clearAll().
  private val invalidateOnly =
    new java.util.concurrent.CopyOnWriteArrayList[Option[SparkSession] => Unit]()

  /** Register an eviction hook for caches derived from the raw corpus
    * only: fired by [[clear]]/[[clearAll]] (corpus or session
    * invalidation) but NOT by [[replace]] (an artifact append does not
    * change the underlying tables these caches read).
    */
  def onInvalidate(f: Option[SparkSession] => Unit): Unit = { invalidateOnly.add(f); () }

  /** Registers, once per session, the app-end listener that releases
    * everything the session owns.
    */
  private def hookAppEnd(s: SparkSession): Unit =
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = clear(s)
      })
    }

  /** Memoize `build` (persisted MEMORY_AND_DISK) under
    * (session, dir, kind). The first caller builds; concurrent callers
    * block on the same holder instead of racing to a second, orphaned
    * persist.
    */
  def memo(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    hookAppEnd(s)
    entries
      .computeIfAbsent((s, dir, kind),
        _ => new Holder(() => build.persist(StorageLevel.MEMORY_AND_DISK)))
      .df
  }

  private final class LazySide[T](compute: () => T) { lazy val v: T = compute() }
  private val sides =
    new ConcurrentHashMap[(SparkSession, String, String), LazySide[Any]]()

  /** Memoize a DRIVER-SIDE value derived from the corpus (a cutoff
    * scalar, a trained merge list) under (session, dir, kind) — the
    * non-DataFrame sibling of [[memo]]. Query CONSTRUCTION must be
    * action-free once artifacts are warm (pinned by PlanGuardSpec), so
    * any driver value a query derives at build time goes through here
    * instead of re-running its job per construction. Evicted by
    * [[clear]]/[[clearAll]] AND [[replace]] (a replaced artifact may
    * feed the computation; conservative re-derive).
    */
  def memoSide[T](s: SparkSession, dir: String, kind: String)(
      compute: => T): T = {
    hookAppEnd(s)
    sides.computeIfAbsent((s, dir, kind),
      _ => new LazySide(() => compute)).v.asInstanceOf[T]
  }

  private def dropSides(sOpt: Option[SparkSession]): Unit = {
    val it = sides.entrySet().iterator()
    while (it.hasNext) {
      // advance BEFORE testing: Option.forall(None) short-circuits true
      // without evaluating the predicate, and remove() before next()
      // throws IllegalStateException (the clearAll path)
      val e = it.next()
      if (sOpt.forall(_ eq e.getKey._1)) it.remove()
    }
  }

  /** MAINTENANCE path: replace the artifact under (session, dir, kind)
    * with `build` — the in-memory analog of appending a batch to a
    * written table. The new frame is materialized BEFORE the old one is
    * unpersisted (an append typically reads the standing artifact, so
    * evicting first would force a full rebuild), then the old frame is
    * released and the session's [[memoSide]] values are evicted (anything
    * derived from the artifact — e.g. the bloom capacity — must re-derive).
    */
  def replace(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    val holder = new Holder(() => build.persist(StorageLevel.MEMORY_AND_DISK))
    val df = holder.df
    df.count() // materialize from the still-cached predecessor
    val old = entries.put((s, dir, kind), holder)
    if (old != null) old.peek.foreach(_.unpersist(false))
    dropSides(Some(s))
    df
  }

  /** Unpersist and drop every artifact owned by `s`. */
  def clear(s: SparkSession): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq s) {
        e.getValue.peek.foreach(_.unpersist(false))
        it.remove()
      }
    }
    // Deliberately NOT removed from `hooked`: the session keeps its one
    // app-end listener for life. Removing it here would make a later
    // memo() on the same session register a second identical listener
    // per clear/memo cycle (clear is idempotent, but the listener bus
    // would bloat).
    dropSides(Some(s))
    invalidateOnly.forEach(f => f(Some(s)))
  }

  /** Unpersist and drop everything (explicit invalidation hook — e.g.
    * after mutating a corpus dir).
    */
  def clearAll(): Unit = {
    entries.values().forEach(h => h.peek.foreach(_.unpersist(false)))
    entries.clear()
    dropSides(None)
    invalidateOnly.forEach(f => f(None))
    // `hooked` intentionally survives — see clear().
  }
}
