package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one engine for global order: distributed prefix aggregates
  * (running sum/max/min under a total order) and the two position
  * joins built on them. pandas `cumsum`/`cummax`/`cummin` over the
  * whole frame, the row ordinal behind slice/iloc/rank
  * ([[Ordinal.withOrdinal]] is the running count of `lit(1L)`, minus
  * one), `shift`/`diff` ([[shiftJoin]]) and the rolling windows
  * ([[shiftJoin]] for prefix differences, [[blockExtremes]] for
  * min/max) all come from here — the analog of the reference's one
  * ordered loop over the index (`weld_ops.py:136-228`).
  *
  * The naive spelling, `sum(v).over(Window.orderBy(order))`, collapses
  * the dataset into ONE partition — a non-starter at 100 TB. The
  * classic two-phase scan instead:
  *
  *   1. `repartitionByRange(order)` — partition i strictly precedes
  *      partition i+1 in the total order (deterministic, seeded bounds);
  *   2. ONE tiny per-partition aggregate (≤ #partitions rows) →
  *      exclusive running offsets over the partition ids, broadcast back;
  *   3. row result = offset(partition) ⊕ within-partition running
  *      aggregate (a keyed window over `__pid` — never SinglePartition).
  *
  * Cost: one range exchange + one #partitions-row broadcast + one
  * partition-local sort that the range layout already did. Every step
  * is a DataFrame op — codegen survives, 1000 executors each scan their
  * own slice.
  *
  * Precondition: `order` must be a TOTAL order. On a tied key, which
  * of the tied rows "precedes" the other is not defined, so their
  * running values depend on the partition layout (true of any engine's
  * window-with-ties, but here silently so). Every in-repo caller
  * complies: the Series API orders by the frame's unique index, and
  * each query orders by a unique key or appends a tie-break column.
  */
object Scan {

  private def aggF(how: String): Column => Column = how match {
    case "sum" => sum(_)
    case "max" => max(_)
    case "min" => min(_)
    case other => throw new IllegalArgumentException(s"unknown scan agg: $other")
  }

  // offset(first partition) is NULL (empty exclusive prefix): sum
  // treats it as 0; max/min fall through to the local value alone
  // (greatest/least skip NULL inputs).
  private def combine(how: String): (Column, Column) => Column = how match {
    case "sum" => (off, loc) => coalesce(off, lit(0)) + loc
    case "max" => (off, loc) => greatest(off, loc)
    case "min" => (off, loc) => least(off, loc)
  }

  /** One running aggregate per (value, how, name) triple, all computed
    * over a SINGLE range layout and one offsets broadcast. `how` ∈
    * {sum, max, min}.
    */
  def runningAggs(df: DataFrame, order: Seq[Column],
      specs: Seq[(Column, String, String)]): DataFrame = {
    require(specs.nonEmpty)
    val vals = specs.zipWithIndex.map { case ((v, _, _), i) => v.as(s"__v$i") }
    // The range layout is consumed TWICE (the per-partition offsets
    // aggregate and the main windowed branch), and correctness requires
    // both to see the SAME partition boundaries — the layout is frozen
    // and shared through [[FrozenLayout]] (see there for the measured
    // divergence under a persist() wrapper and the memoization rationale).
    val ranged = FrozenLayout.freeze(df.select(col("*") +: vals: _*), order)
    val pagg = specs.zipWithIndex.map { case ((_, how, _), i) =>
      aggF(how)(col(s"__v$i")).as(s"__pagg$i") }
    val offs = specs.zipWithIndex.map { case ((_, how, _), i) =>
      aggF(how)(col(s"__pagg$i")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1))
        .as(s"__off$i") }
    // ≤ #partitions rows: the Window.orderBy here is over the partition
    // ids, bounded by cluster parallelism, not by the data.
    val offsets = ranged.groupBy(col("__pid")).agg(pagg.head, pagg.tail: _*)
      .select(col("__pid") +: offs: _*)
    val w = Window.partitionBy("__pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = specs.zipWithIndex.foldLeft(
      ranged.join(broadcast(offsets), "__pid")) {
      case (d, ((_, how, name), i)) =>
        d.withColumn(name,
          combine(how)(col(s"__off$i"), aggF(how)(col(s"__v$i")).over(w)))
    }
    out.drop("__pid" +:
      specs.indices.flatMap(i => Seq(s"__v$i", s"__off$i")): _*)
  }

  /** Single running aggregate — see [[runningAggs]]. */
  def runningAgg(df: DataFrame, order: Seq[Column], value: Column,
      how: String, name: String): DataFrame =
    runningAggs(df, order, Seq((value, how, name)))

  /** `df` left-joined to the donor rows `k` positions earlier: the row
    * at position p gains `cols`, evaluated on `donor`'s row at p − k
    * (NULL where there is none; negative k looks forward). `pos` names
    * the position column — an ordinal or a running count — of both
    * frames; `donor` is `df` itself or a frame `df` was derived from.
    * An equi join on the position shuffles both sides by position, so
    * any cluster runs it; no global-order window.
    */
  private[graft] def shiftJoin(df: DataFrame, donor: DataFrame, pos: String,
      k: Long, cols: Column*): DataFrame =
    df.join(donor.select((col(pos) + k).as(pos) +: cols: _*), Seq(pos), "left")

  /** Trailing n-row min/max by BLOCK DECOMPOSITION (the van Herk /
    * Gil–Werman sliding-extremum shape). Cut the 0-based positions into
    * blocks of n: any trailing n-row window spans at most two blocks,
    * so ext(i) = ext(prefix-ext of i's block up to i, suffix-ext of the
    * previous block from position i − n + 1). Both scans are windows
    * KEYED by the block id (never SinglePartition); the cross-block half
    * arrives by one [[shiftJoin]] — zero replication, cost independent
    * of n.
    *
    * `pos` names the position column and `first` its value on the first
    * row (0 for an ordinal, 1 for a running count); the windows order
    * by `pos` itself. Per (value, min|max, name) spec, column `name`
    * holds the extremum of the window ending at the row, built from the
    * `__p<name>` prefix and the donated `__x<name>` suffix; it is
    * meaningful once the window is full (0-based position ≥ n − 1),
    * which the caller guards. `before` runs on the scanned frame ahead
    * of the cross-block join, so a caller's own position joins stay
    * below it.
    */
  private[graft] def blockExtremes(df: DataFrame, pos: String, first: Int, n: Int,
      specs: Seq[(Column, String, String)],
      before: DataFrame => DataFrame = identity): DataFrame = {
    val p = if (first == 0) pos else s"($pos - $first)"
    def w(o: Column) = Window.partitionBy("__blk").orderBy(o)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val blocked = df.withColumn("__blk", expr(s"$p DIV $n"))
    // one exchange on the block id, two partition-local sorts
    val scanned = Seq(("__p", w(col(pos))), ("__s", w(col(pos).desc)))
      .foldLeft(blocked) { case (d, (tag, win)) =>
        specs.foldLeft(d) { case (d2, (v, how, name)) =>
          d2.withColumn(tag + name, aggF(how)(v).over(win)) }
      }
    // the row at position j donates its suffix-ext to the row n − 1
    // positions later, whose window starts at j
    val joined = shiftJoin(before(scanned), scanned, pos, n - 1L,
      specs.map { case (_, _, name) => col(s"__s$name").as(s"__x$name") }: _*)
    // last position of a block ⇒ the window IS the block: prefix alone
    // (the donor would be from the SAME block — the wrong half)
    val blockEnd = expr(s"$p % $n") === (n - 1).toLong
    specs.foldLeft(joined) { case (d, (_, how, name)) =>
      d.withColumn(name, when(blockEnd, col(s"__p$name"))
        .otherwise(combine(how)(col(s"__p$name"), col(s"__x$name"))))
    }
  }
}
