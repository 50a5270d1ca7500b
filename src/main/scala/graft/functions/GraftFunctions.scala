package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}
import org.apache.spark.sql.functions.call_function

/** Registration of graft's custom Catalyst expressions into a session's
  * function registry, plus Scala-facing `Column` helpers.
  *
  * On a cluster the same builders are injected through
  * [[graft.extensions.GraftExtensions]] (`spark.sql.extensions=` config),
  * so SQL users get the functions without any driver-side call.
  */
object GraftFunctions {

  /** (name, builder) for every custom function we expose. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // Spark's own `product` aggregate (a DeclarativeAggregate: codegen'd,
    // map-side partial merge; NULLs skipped, NULL for no input).
    "graft_prod" -> ((children: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate.Product(
        Cast(children.head, DoubleType))),
    "graft_erf" -> ((children: Seq[Expression]) =>
      Erf(Cast(children.head, DoubleType))),
    "graft_rollhash" -> ((children: Seq[Expression]) =>
      RollingHash(Cast(children.head, StringType))),
    "graft_spanhashes" -> ((children: Seq[Expression]) =>
      SpanHashes(Cast(children.head, StringType))),
    "graft_spanhashes_pos" -> ((children: Seq[Expression]) =>
      SpanHashesPos(Cast(children.head, StringType))),
    "graft_dotl" -> ((children: Seq[Expression]) =>
      LongDot(Cast(children.head, ArrayType(LongType)),
        Cast(children(1), ArrayType(LongType)))),
    "graft_sinter" -> ((children: Seq[Expression]) =>
      SortedInterCount(Cast(children.head, ArrayType(LongType)),
        Cast(children(1), ArrayType(LongType)))),
    // Spark's own bloom build + probe pair (the expressions behind its
    // runtime row-level join filters) — registered here because Spark
    // keeps both out of the public registry. The probe stays inside
    // whole-stage codegen, unlike a Scala-closure UDF.
    "graft_bloom_agg" -> ((children: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        Cast(children.head, LongType), children(1), children(2))),
    "graft_might_contain" -> ((children: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, Cast(children(1), LongType)))
  )

  /** Idempotently register all graft functions into `spark`'s registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) {
        registry.registerFunction(
          id, new ExpressionInfo(builder.getClass.getCanonicalName, name), builder)
      }
    }
  }

  /** Product of all non-null values (NULL for empty/all-null input) —
    * reference `Series.prod` / `GroupBy.prod`.
    */
  def prod(c: Column): Column = call_function("graft_prod", c)

  /** Gauss error function — reference `baloo/functions/unary.py` `erf`. */
  def erf(c: Column): Column = call_function("graft_erf", c)

  /** Min windowed Karp–Rabin hash — winnowing-style doc fingerprint. */
  def rollhash(c: Column): Column = call_function("graft_rollhash", c)

  /** Distinct 32-char-window Karp–Rabin hashes — substring-dedup spans. */
  def spanhashes(c: Column): Column = call_function("graft_spanhashes", c)

  /** Positional 32-char-window hashes (element i = window at offset i) —
    * maximal duplicated-substring runs via posexplode + island merge.
    */
  def spanhashesPos(c: Column): Column = call_function("graft_spanhashes_pos", c)

  /** Codegen'd integer dot product of two `array<bigint>` vectors. */
  def dotl(a: Column, b: Column): Column = call_function("graft_dotl", a, b)

  /** Codegen'd |a ∩ b| of two SORTED distinct `array<bigint>`s. */
  def sinter(a: Column, b: Column): Column = call_function("graft_sinter", a, b)

  /** Serialized bloom filter over a long column: `estimated` expected
    * items, `numBits` filter bits (both literals).
    */
  def bloomAgg(c: Column, estimated: Column, numBits: Column): Column =
    call_function("graft_bloom_agg", c, estimated, numBits)

  /** Probe a serialized bloom filter (built by [[bloomAgg]]) for a
    * long value — `bloom` must be a constant or an uncorrelated scalar
    * subquery (e.g. `df.agg(...).scalar()`).
    */
  def mightContain(bloom: Column, value: Column): Column =
    call_function("graft_might_contain", bloom, value)
}
