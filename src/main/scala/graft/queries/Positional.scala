package graft.queries

import graft.Tables
import graft.operators.Ordinal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.2 positional ops — head/tail/slice/iloc.
  *
  * Reference semantics are positions in the array (`frame.py:371-378,
  * 460-514`, `core/indexing.py`); Spark has no row positions, so these
  * are defined as positions under an explicit total order — here
  * (l_orderkey, l_linenumber). head/tail compile to
  * TakeOrderedAndProject (no full sort materialized); slice/iloc use
  * [[graft.operators.Ordinal]] (the running count of the range-layout
  * scan, no single-partition window — see its scaladoc for the 100 TB
  * rationale).
  */
object Positional extends QueryModule {

  // (l_orderkey, l_linenumber) is NOT unique in the testdata (planted
  // near-duplicates); all four output columns together are, so they form
  // the total order that makes positions deterministic.
  private val orderCols = Seq(col("l_orderkey"), col("l_linenumber"),
    col("l_quantity"), col("l_extendedprice"))

  private def li(s: SparkSession, dir: String) =
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** The ordinal-indexed frame, MATERIALIZED once per (session, corpus)
    * and shared by slice/iloc/gather. This is the Spark analog of the
    * reference's RangeIndex, which exists eagerly alongside the data
    * (`baloo/core/indexes/range.py`) — a user doing repeated positional
    * ops pays the global-ordinal derivation once, not per lookup. Spill-
    * safe (MEMORY_AND_DISK); at corpus scale the same artifact would be
    * a written table bucketed by ordinal range.
    */
  private def indexed(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "ordinal_index")(
      Ordinal.withOrdinal(li(s, dir), orderCols))

  override def prewarm(s: SparkSession, dir: String): Unit = {
    indexed(s, dir).count(); ()
  }

  /** head(n) (`frame.py:460-483`): sort + limit ⇒ per-partition top-k,
    * merged on one reducer — k rows, not the whole table, cross the wire.
    */
  def qHead(s: SparkSession, dir: String): DataFrame =
    li(s, dir).orderBy(orderCols: _*).limit(100)

  /** tail(n) (`frame.py:485-514`): top-k under the reversed order,
    * re-sorted ascending — still TakeOrderedAndProject, never a global
    * ordinal.
    */
  def qTail(s: SparkSession, dir: String): DataFrame =
    li(s, dir)
      .orderBy(col("l_orderkey").desc, col("l_linenumber").desc,
        col("l_quantity").desc, col("l_extendedprice").desc).limit(50)
      .orderBy(orderCols: _*)

  /** df[a:b] positional slice (`weld_slice` `weld_ops.py:136-187`). */
  def qSlice(s: SparkSession, dir: String): DataFrame =
    indexed(s, dir).filter(col("ord") >= 100L && col("ord") < 200L).orderBy("ord")

  /** df[a:b:step] stepped positional slice — the reference's strided
    * iter (`weld_ops.py:136-187`, step ≠ 1). Same memoized ordinal, one
    * extra codegen'd modulus predicate: every 3rd row of [100, 200).
    */
  def qSliceStep(s: SparkSession, dir: String): DataFrame =
    indexed(s, dir)
      .filter(col("ord") >= 100L && col("ord") < 200L &&
        ((col("ord") - 100L) % 3L) === 0L)
      .orderBy("ord")

  /** iloc[int] scalar row lookup (`weld_iloc_int` `weld_ops.py:307-330`). */
  def qIloc(s: SparkSession, dir: String): DataFrame =
    indexed(s, dir).filter(col("ord") === 1234L)

  /** Positions for the gather queries — scattered, unsorted, all within
    * range at sf0.01+ (lineitem ≥ 60k rows there).
    */
  private val gatherPos = Seq(31337L, 0L, 59999L, 7L, 1234L)
  // 10_000_000 is out of range at every sf → all-NULL data columns.
  private val gatherMissPos = Seq(2L, 59999L, 10000000L, 999L)

  /** iloc[indices] gather (`weld_iloc_indices` `weld_ops.py:333-367`):
    * broadcast the position list against the distributed ordinal.
    */
  def qIlocGather(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    indexed(s, dir).join(broadcast(gatherPos.toDF("ord")), "ord").orderBy("ord")
  }

  /** Gather keeping out-of-range positions as all-NULL rows
    * (`weld_iloc_indices_with_missing` `weld_ops.py:370-414`).
    */
  def qGatherMissing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gatherMissPos.toDF("ord").join(indexed(s, dir), Seq("ord"), "left")
      .orderBy("ord")
  }

  /** GLOBAL rank / dense_rank / percent_rank over the whole corpus —
    * pandas `Series.rank` at corpus scale. A naive
    * `row_number() OVER (ORDER BY …)` collapses to ONE partition (the
    * classic 100 TB cliff); here the row rank is the range-partitioned
    * [[graft.operators.Ordinal]] (sample bounds → per-partition local
    * window + broadcast offsets), dense rank is the same trick applied
    * to the (much smaller) DISTINCT value set and joined back on the
    * value — both shuffles are hash/range on the value, never a single
    * reducer. percent_rank is (rank−1)/(n−1) with n a broadcast scalar.
    * Ranks documents by length, the curation-pipeline use case.
    */
  def qRankGlobal(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "n_chars")
    val ranked = Ordinal
      .withOrdinal(docs, Seq(col("n_chars").desc, col("doc_id").asc))
      .withColumn("rnk", col("ord") + 1L).drop("ord")
    val dense = Ordinal
      .withOrdinal(docs.select("n_chars").distinct(), Seq(col("n_chars").desc))
      .withColumn("dense_rnk", col("ord") + 1L).drop("ord")
    val n = docs.agg(count(lit(1)).as("__n"))
    ranked.join(dense, "n_chars")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_chars"), col("rnk"), col("dense_rnk"),
        ((col("rnk") - 1L).cast("double") / (col("__n") - 1L)).as("prank"))
      .orderBy("rnk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_head" -> (qHead(_, _)),
    "q_tail" -> (qTail(_, _)),
    "q_slice" -> (qSlice(_, _)),
    "q_slice_step" -> (qSliceStep(_, _)),
    "q_iloc" -> (qIloc(_, _)),
    "q_iloc_gather" -> (qIlocGather(_, _)),
    "q_gather_missing" -> (qGatherMissing(_, _)),
    "q_rank_global" -> (qRankGlobal(_, _)))

  private val cols = "l_orderkey, l_linenumber, l_quantity, l_extendedprice"
  private val ord = "l_orderkey, l_linenumber, l_quantity, l_extendedprice"
  private val ordDesc =
    "l_orderkey DESC, l_linenumber DESC, l_quantity DESC, l_extendedprice DESC"

  val oracleSql: Map[String, String] = Map(
    "q_head" ->
      s"SELECT $cols FROM lineitem ORDER BY $ord LIMIT 100",
    "q_tail" ->
      s"""SELECT * FROM (
         |  SELECT $cols FROM lineitem
         |  ORDER BY $ordDesc LIMIT 50)
         |ORDER BY $ord""".stripMargin,
    "q_slice" ->
      s"""SELECT * FROM (
         |  SELECT $cols,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
        |                       l_quantity, l_extendedprice) - 1 AS ord
         |  FROM lineitem)
         |WHERE ord >= 100 AND ord < 200 ORDER BY ord""".stripMargin,
    "q_slice_step" ->
      s"""SELECT * FROM (
         |  SELECT $cols,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
        |                       l_quantity, l_extendedprice) - 1 AS ord
         |  FROM lineitem)
         |WHERE ord >= 100 AND ord < 200 AND (ord - 100) % 3 = 0
         |ORDER BY ord""".stripMargin,
    "q_iloc" ->
      s"""SELECT * FROM (
         |  SELECT $cols,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber,
        |                       l_quantity, l_extendedprice) - 1 AS ord
         |  FROM lineitem)
         |WHERE ord = 1234""".stripMargin,
    "q_iloc_gather" ->
      s"""SELECT t.ord, t.l_orderkey, t.l_linenumber, t.l_quantity,
         |  t.l_extendedprice
         |FROM (
         |  SELECT $cols,
         |    row_number() OVER (ORDER BY $ord) - 1 AS ord
         |  FROM lineitem) t
         |JOIN (SELECT CAST(v AS BIGINT) AS ord FROM (VALUES (31337), (0),
         |  (59999), (7), (1234)) p(v)) p ON p.ord = t.ord
         |ORDER BY t.ord""".stripMargin,
    "q_gather_missing" ->
      s"""SELECT p.ord, t.l_orderkey, t.l_linenumber, t.l_quantity,
         |  t.l_extendedprice
         |FROM (SELECT CAST(v AS BIGINT) AS ord FROM (VALUES (2), (59999),
         |  (10000000), (999)) p(v)) p
         |LEFT JOIN (
         |  SELECT $cols,
         |    row_number() OVER (ORDER BY $ord) - 1 AS ord
         |  FROM lineitem) t ON t.ord = p.ord
         |ORDER BY p.ord""".stripMargin,
    "q_rank_global" ->
      """SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk,
        |  dense_rank() OVER (ORDER BY n_chars DESC) AS dense_rnk,
        |  percent_rank() OVER (ORDER BY n_chars DESC, doc_id) AS prank
        |FROM documents ORDER BY rnk""".stripMargin)
}
