package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Frozen range layouts for the prefix-scan machinery ([[Scan]], and
  * through it [[Ordinal]]) — one materialized `repartitionByRange` per
  * distinct (session, input plan, order), shared by every consumer.
  *
  * Why freezing is needed at all: the scan layout is consumed TWICE
  * (per-partition offsets aggregate + the windowed main branch), and
  * correctness requires both to see the SAME partition boundaries.
  * RangePartitioner SAMPLES its bounds, and whether two physical
  * executions of the subplan agree depends on exchange reuse — which is
  * not guaranteed (measured: at sf0.1 under a persist() wrapper the two
  * branches got different bounds, baking overlapping ordinals into the
  * cached artifact; invisible at sf0.01 where the sample covers the
  * data). `localCheckpoint` freezes ONE materialized layout both
  * consumers read; unlike persist(), an evicted checkpoint block fails
  * the job instead of silently recomputing with fresh bounds.
  *
  * Why memoized: the checkpoint is EAGER — without memoization every
  * construction of a scan-bearing DataFrame runs the materialization
  * job again and leaves the previous run's blocks to the garbage
  * collector. A bench pass re-invoking each query 2–3 times turned that
  * into hundreds of orphaned block sets, evicting the shared per-corpus
  * artifacts and collapsing throughput (measured 204 s vs ~78 s at
  * sf0.1). Keying by the CANONICALIZED range-partitioned plan collapses
  * re-built identical frames onto one layout — the in-session analog of
  * writing the range-layout table once per corpus, which is what a
  * 100 TB pipeline does here anyway.
  *
  * Key discipline: the memo key is the canonicalized ANALYZED PLAN of
  * the `repartitionByRange(order)` frame itself, so the order's resolved
  * expressions (exprIds normalized structurally) are part of the key.
  * An earlier revision keyed on `order.map(_.toString)`, which collides
  * for two same-named columns resolving to different attributes (e.g.
  * the two sides of a self-join) — pinned by FrozenLayoutSpec.
  *
  * Lifecycle: the layout memo is NOT merged into [[graft.Caches]]' entry
  * map — its key (a canonicalized plan, not a corpus dir and kind) and
  * its LRU bound differ — but Caches owns its release:
  *  - `Caches.clear`/`clearAll` call [[clear]], which evicts the
  *    session's layouts and unpersists their checkpoint blocks (same
  *    corpus-dir-immutability assumption); an artifact `replace` does
  *    not touch them;
  *  - [[freeze]] registers the session with `Caches.hookAppEnd`, so a
  *    session that uses only the scan machinery still releases its
  *    blocks on stop;
  *  - the memo is LRU-BOUNDED ([[MaxEntries]]): a long-lived interactive
  *    session constructing many distinct frames evicts (and releases)
  *    the least-recently-used layout instead of pinning blocks forever;
  *  - each layout is a [[graft.Caches.Entry]], so an eviction racing an
  *    in-flight build is closed the same way as for an artifact: the
  *    builder re-checks the evicted flag after materializing and
  *    releases its own blocks if it lost the race.
  */
object FrozenLayout {

  /** LRU bound on memoized layouts per JVM. Each entry pins one frame's
    * localCheckpoint blocks; the in-repo workloads need a handful per
    * corpus, so 64 is generous headroom, not a tuning knob.
    */
  private[operators] val MaxEntries = 64

  // Key: the canonicalized analyzed plan of the range-partitioned frame
  // (order expressions included, exprIds normalized). A HASH alone would
  // risk collisions = silent wrong layouts; the full plan is structural.
  private type Key = (SparkSession, Any)

  private type Entry = graft.Caches.Entry[DataFrame]

  // Access-ordered LRU; ALL map operations synchronize on the map (the
  // build itself runs outside the lock, serialized by the entry's lazy
  // val). removeEldestEntry releases the evictee's blocks.
  private val entries =
    new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, Entry]): Boolean =
        if (size() > MaxEntries) { e.getValue.drop(); true } else false
    }

  /** Evict (and release) the layouts of `s`, or of every session. */
  private[graft] def clear(sOpt: Option[SparkSession]): Unit =
    entries.synchronized {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (sOpt.forall(_ eq e.getKey._1)) {
          e.getValue.drop()
          it.remove()
        }
      }
    }

  /** Best-effort release of a localCheckpoint's blocks: the checkpointed
    * frame's plan is a [[LogicalRDD]] over the cached RDD — unpersist it
    * directly instead of waiting for the ContextCleaner's GC cycle.
    * Idempotent (unpersist of an unpersisted RDD is a no-op).
    */
  private def release(df: DataFrame): Unit =
    try {
      df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
        .foreach(_.unpersist(blocking = false))
    } catch { case _: Throwable => }

  /** The frozen layout of `df` under `order`: range-partitioned, with a
    * `__pid` partition-id column, localCheckpoint-materialized, memoized.
    */
  def freeze(df: DataFrame, order: Seq[Column]): DataFrame = {
    val s = df.sparkSession
    graft.Caches.hookAppEnd(s)
    val ranged = df.repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())
    val key: Key = (s, ranged.queryExecution.analyzed.canonicalized)
    val entry = entries.synchronized {
      var e = entries.get(key)
      if (e == null) {
        e = new Entry(() => ranged.localCheckpoint(), release)
        entries.put(key, e)
      }
      e
    }
    entry.value
  }
}
