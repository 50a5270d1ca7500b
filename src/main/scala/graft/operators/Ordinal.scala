package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global row ordinals under a total order — the foundation for every
  * positional operation the reference exposes (`iloc`, `df[a:b]` slices,
  * `tail`, stable `RangeIndex`; SURVEY.md §2.2, reference kernels
  * `/root/reference/baloo/weld/weld_ops.py:136-228,307-414`).
  *
  * Spark has no row identity, and the obvious
  * `row_number().over(Window.orderBy(...))` collapses the whole dataset
  * into ONE partition — a non-starter at 100 TB. Instead:
  *
  *   1. `repartitionByRange(order)` + `sortWithinPartitions(order)` gives
  *      a globally sorted layout (partition i precedes partition i+1);
  *   2. a tiny per-partition count aggregation → running offsets
  *      (≤ #partitions rows, broadcast back);
  *   3. ordinal = offset + partition-local `row_number()`.
  *
  * Everything stays in the DataFrame plan — no RDD hop, no row
  * deserialization, whole-stage codegen intact (round 1 used
  * `rdd.zipWithIndex`, which de-codegen'd the pipeline and cost 10 s to
  * fetch one row from 600k). Cost: the range exchange, one count pass,
  * and one hash exchange on the partition id for the window. Callers
  * that only need head-k use `orderBy().limit(k)` (planned as
  * TakeOrderedAndProject) instead.
  */
object Ordinal {

  /** Append a 0-based global ordinal column named `name`, ordered by
    * `order` (must be a total order for deterministic results).
    */
  def withOrdinal(df: DataFrame, order: Seq[Column], name: String = "ord"): DataFrame = {
    // Range layout first; partition i then strictly precedes i+1 in the
    // total order, so a per-partition offset + local row_number is a
    // correct global ordinal. The layout is frozen and shared through
    // [[FrozenLayout]] — see there for why two consumers of a SAMPLED
    // range exchange need one materialization, and why it is memoized.
    val ranged = FrozenLayout.freeze(df, order)
    // Tiny aggregation: one row per partition → running offsets.
    val offsets = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    ranged.join(broadcast(offsets), "__pid")
      .withColumn(name, col("__off") + row_number().over(w).cast("long") - 1L)
      .drop("__pid", "__off")
  }

  /** Positional slice `df[start:stop:step)` under `order` — reference
    * `weld_slice` (`weld_ops.py:136-187`; the strided iter there covers
    * step ≠ 1). Stride is one more codegen'd predicate on the ordinal —
    * `(ord − start) % step == 0` — so the stepped form costs nothing
    * beyond the step-1 plan.
    */
  def slice(df: DataFrame, order: Seq[Column], start: Long, stop: Long,
            step: Long = 1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(step > 0, "slice step must be positive (same as reference)")
    val base = withOrdinal(df, order).filter(col("ord") >= start && col("ord") < stop)
    if (step == 1L) base
    else base.filter(((col("ord") - start) % step) === 0L)
  }

  /** Scalar row lookup at position `i` — reference `iloc[int]`
    * (`weld_ops.py:307-330`).
    */
  def iloc(df: DataFrame, order: Seq[Column], i: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    withOrdinal(df, order).filter(col("ord") === i)
  }
}
