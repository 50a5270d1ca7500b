package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.operators.FrozenLayout

/** The one owner of session-scoped state: per-(session, corpus dir,
  * kind) artifacts — the posting index, LSH candidate/confirmed pair
  * sets, quantized vectors, ordinal index, driver-side values, and the
  * write-once file layouts. These are the local-mode analog of tables a
  * 100 TB pipeline writes once and shares across queries; frames
  * persist at MEMORY_AND_DISK (spill, never recompute).
  *
  * Lifecycle contract — one rule:
  *
  *  - '''single build per key''': the builder runs at most once per
  *    (session, dir, kind). `computeIfAbsent` only installs a cheap lazy
  *    [[Entry]], so nested `memo` calls inside a builder (confirmed pairs →
  *    candidate pairs → postings) never recursively update the map; the
  *    actual build is serialized by the entry's `lazy val`.
  *  - '''[[replace]] swaps exactly one artifact''': the maintenance path
  *    (an append) installs the new frame and unpersists the old one.
  *    Nothing else is evicted — no other entry reads a replaced
  *    artifact (the only one, `postings_append_demo`, is read by the
  *    append query alone).
  *  - '''[[clear]]/[[clearAll]] release everything a session owns''':
  *    frames and side values, then [[FrozenLayout]]'s range layouts and
  *    the session's [[Scratch]] dirs (every file a query wrote). A
  *    session-end listener is registered on first use so a stopping
  *    application releases its blocks and files. Nothing else evicts.
  *  - '''immutability assumption''': a corpus dir is assumed immutable
  *    for the lifetime of the session — if files under `dir` change,
  *    call [[clear]] to invalidate, otherwise reads serve stale data.
  */
object Caches {

  /** One lazily built piece of session state and its release — the
    * holder of every artifact here and of [[FrozenLayout]]'s layouts.
    * A [[drop]] that lands while the build runs finds nothing to release
    * yet, so the builder re-checks the evicted flag once done and
    * releases its own value: nothing it persisted outlives the entry.
    * Release must be idempotent (both sides may see the other's write).
    */
  private[graft] final class Entry[T](build: () => T, release: T => Unit) {
    @volatile private var built: Option[T] = None
    @volatile private var evicted = false
    lazy val value: T = {
      val v = build()
      built = Some(v)
      if (evicted) release(v)
      v
    }
    /** Mark evicted and release the value if (and whenever) it exists. */
    def drop(): Unit = { evicted = true; built.foreach(release) }
  }

  private val entries =
    new ConcurrentHashMap[(SparkSession, String, String), Entry[_]]()
  private val hooked =
    java.util.Collections.newSetFromMap(
      new ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** Registers, once per session, the app-end listener that releases
    * everything the session owns. The session keeps it for life: a
    * [[clear]] does not unhook, or every clear/memo cycle would add a
    * second identical listener.
    */
  private[graft] def hookAppEnd(s: SparkSession): Unit =
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            end: SparkListenerApplicationEnd): Unit = clear(s)
      })
    }

  private def persisted(build: => DataFrame): Entry[DataFrame] =
    new Entry[DataFrame](() => build.persist(StorageLevel.MEMORY_AND_DISK),
      df => { df.unpersist(false); () })

  private def lookup(s: SparkSession, dir: String, kind: String,
      entry: => Entry[_]): Any = {
    hookAppEnd(s)
    entries.computeIfAbsent((s, dir, kind), _ => entry).value
  }

  /** Memoize `build` (persisted MEMORY_AND_DISK) under
    * (session, dir, kind). The first caller builds; concurrent callers
    * block on the same entry instead of racing to a second, orphaned
    * persist.
    */
  def memo(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    lookup(s, dir, kind, persisted(build)).asInstanceOf[DataFrame]

  /** Memoize a DRIVER-SIDE value derived from the corpus (a cutoff
    * scalar, a trained merge list, the path or frame of a write-once
    * file layout) under (session, dir, kind) — the unpersisted sibling
    * of [[memo]]. Query CONSTRUCTION must be action-free once artifacts
    * are warm (pinned by PlanGuardSpec), so any driver value a query
    * derives at build time goes through here instead of re-running its
    * job per construction. Files behind the value live in a
    * [[Scratch]] dir of `s`, so [[clear]] drops both together.
    */
  def memoSide[T](s: SparkSession, dir: String, kind: String)(
      compute: => T): T =
    lookup(s, dir, kind, new Entry[T](() => compute, _ => ())).asInstanceOf[T]

  /** MAINTENANCE path: replace the artifact under (session, dir, kind)
    * with `build` — the in-memory analog of appending a batch to a
    * written table. The new frame is materialized BEFORE the old one is
    * unpersisted (an append typically reads the standing artifact, so
    * evicting first would force a full rebuild). Only this entry
    * changes.
    */
  def replace(s: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = {
    val entry = persisted(build)
    val df = entry.value
    df.count() // materialize from the still-cached predecessor
    Option(entries.put((s, dir, kind), entry)).foreach(_.drop())
    df
  }

  private def dropEntries(sOpt: Option[SparkSession]): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      // advance BEFORE testing: Option.forall(None) short-circuits true
      // without evaluating the predicate, and remove() before next()
      // throws IllegalStateException (the clearAll path)
      val e = it.next()
      if (sOpt.forall(_ eq e.getKey._1)) {
        e.getValue.drop()
        it.remove()
      }
    }
  }

  /** Release everything `s` owns: frames and side values first, then its
    * range layouts and scratch dirs.
    */
  def clear(s: SparkSession): Unit = {
    dropEntries(Some(s))
    FrozenLayout.clear(Some(s))
    Scratch.clear(Some(s))
  }

  /** Release everything every session owns (explicit invalidation —
    * e.g. after mutating a corpus dir).
    */
  def clearAll(): Unit = {
    dropEntries(None)
    FrozenLayout.clear(None)
    Scratch.clear(None)
  }
}
