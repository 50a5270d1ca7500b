package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Global row ordinals under a total order — the foundation for every
  * positional operation the reference exposes (`iloc`, `df[a:b]` slices,
  * `tail`, stable `RangeIndex`; SURVEY.md §2.2, reference kernels
  * `baloo/weld/weld_ops.py:136-228,307-414`).
  *
  * Spark has no row identity, and the obvious
  * `row_number().over(Window.orderBy(...))` collapses the whole dataset
  * into ONE partition — a non-starter at 100 TB. The ordinal is instead
  * the running count of [[Scan]], the one global-order engine: range
  * layout, ≤ #partitions-row offsets broadcast, partition-keyed running
  * sum of `lit(1L)`, minus one. Everything stays in the DataFrame plan —
  * no RDD hop, no row deserialization, whole-stage codegen intact (round
  * 1 used `rdd.zipWithIndex`, which de-codegen'd the pipeline and cost
  * 10 s to fetch one row from 600k). Callers that only need head-k use
  * `orderBy().limit(k)` (planned as TakeOrderedAndProject) instead.
  */
object Ordinal {

  /** Append a 0-based global ordinal column named `name`, ordered by
    * `order` (must be a total order for deterministic results).
    */
  def withOrdinal(df: DataFrame, order: Seq[Column], name: String = "ord"): DataFrame =
    // a running count is never NULL, but Spark types a windowed sum as
    // nullable: the coalesce keeps the ordinal column non-nullable, so
    // consumers' filters and joins on it infer no isnotnull guards
    Scan.runningAggs(df, order, Seq((lit(1L), "sum", name)))
      .withColumn(name, coalesce(col(name) - 1L, lit(0L)))

  /** Positional slice `df[start:stop:step)` under `order` — reference
    * `weld_slice` (`weld_ops.py:136-187`; the strided iter there covers
    * step ≠ 1). Stride is one more codegen'd predicate on the ordinal —
    * `(ord − start) % step == 0` — so the stepped form costs nothing
    * beyond the step-1 plan.
    */
  def slice(df: DataFrame, order: Seq[Column], start: Long, stop: Long,
            step: Long = 1L): DataFrame = {
    require(step > 0, "slice step must be positive (same as reference)")
    val base = withOrdinal(df, order).filter(col("ord") >= start && col("ord") < stop)
    if (step == 1L) base
    else base.filter(((col("ord") - start) % step) === 0L)
  }

  /** Scalar row lookup at position `i` — reference `iloc[int]`
    * (`weld_ops.py:307-330`).
    */
  def iloc(df: DataFrame, order: Seq[Column], i: Long): DataFrame =
    withOrdinal(df, order).filter(col("ord") === i)
}
