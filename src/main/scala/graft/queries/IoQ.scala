package graft.queries

import graft.Tables
import graft.sources.Io
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checked SURVEY.md §2.1 source/sink queries.
  *
  * The testdata ships parquet only, so the CSV surface
  * (`sources/Io.readCsv/writeCsv`, reference `baloo/io/csv.py:6-87`)
  * is exercised by ROUND-TRIPPING a table through CSV inside the query:
  * write `nation` to a temp CSV dir (distributed writer, header), read
  * it back with the explicit-schema path, and return the rows — the
  * oracle reads the same table straight from parquet, so any
  * serialization loss (types, quoting, nulls) breaks the value hash.
  *
  * In-memory construction (reference `from_pandas`-adjacent: building a
  * frame from driver-local data, `baloo/core/frame.py:60-100`) is
  * checked by constructing a literal frame via `createDataFrame` and
  * computing over it; the oracle replays the same literals via VALUES.
  */
object IoQ extends QueryModule {

  /** Write `src`'s round trip once per (session, corpus) into a
    * session [[graft.Scratch]] dir and return the file path — query
    * construction is action-free once warm (PlanGuardSpec), and the
    * files go with the memoized path on `Caches.clear`.
    */
  private def sink(s: SparkSession, dir: String, kind: String, name: String)(
      write: String => Unit): String =
    graft.Caches.memoSide(s, dir, kind) {
      val p = graft.Scratch.dirFor(s, kind).resolve(name).toString
      write(p)
      p
    }

  /** CSV round-trip fidelity: parquet → to_csv → read_csv(schema) ≡
    * parquet. Distributed on both legs (no coalesce; reader splits
    * files). The sink writes are memoized per (session, corpus).
    */
  def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.nation(s, dir)
    val tmp = sink(s, dir, "ioq_write_csv", "nation")(Io.writeCsv(src, _))
    val full = Io.readCsv(s, tmp, schema = Some(src.schema))
    // skiprows leg (csv.py:16,39): a SINGLE headerless file in key order
    // (skiprows needs a defined "first N lines"), re-read skipping the
    // first two data lines — the survivors are exactly n_nationkey >= 2.
    val tmpSkip = sink(s, dir, "ioq_write_csv_skip", "nation_skip")(
      src.repartition(1).sortWithinPartitions("n_nationkey")
        .write.option("header", "false").mode("overwrite").csv(_))
    val skipped = Io.readCsv(s, tmpSkip, header = false,
      schema = Some(src.schema), skiprows = 2)
    full.withColumn("leg", lit("full"))
      .unionAll(skipped.withColumn("leg", lit("skip")))
      .orderBy("leg", "n_nationkey")
  }

  /** JSON-lines round-trip: same contract as the CSV leg — any
    * type/null loss through the text format breaks the value hash.
    */
  def qJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.region(s, dir)
    val tmp = sink(s, dir, "ioq_write_json", "region")(Io.writeJson(src, _))
    Io.readJson(s, tmp, schema = Some(src.schema))
      .select(src.columns.toIndexedSeq.map(col): _*)
      .orderBy("r_regionkey")
  }

  /** ORC round-trip: the columnar alternative container. */
  def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.supplier(s, dir)
    val tmp = sink(s, dir, "ioq_write_orc", "supplier")(Io.writeOrc(src, _))
    Io.readOrc(s, tmp).select(src.columns.toIndexedSeq.map(col): _*)
      .orderBy("s_suppkey")
  }

  /** In-memory construction: a literal frame + one computed column. */
  def qFromMem(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, "gamma", -0.5),
      (4L, "delta", 4.0), (5L, "epsilon", 0.0))
      .toDF("id", "name", "x")
      .withColumn("y", col("x") * 2.0 + 1.0)
      .orderBy("id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_csv_roundtrip" -> (qCsvRoundtrip(_, _)),
    "q_json_roundtrip" -> (qJsonRoundtrip(_, _)),
    "q_orc_roundtrip" -> (qOrcRoundtrip(_, _)),
    "q_from_mem" -> (qFromMem(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_csv_roundtrip" ->
      """SELECT *, 'full' AS leg FROM nation
        |UNION ALL
        |SELECT *, 'skip' AS leg FROM nation WHERE n_nationkey >= 2
        |ORDER BY leg, n_nationkey""".stripMargin,
    "q_json_roundtrip" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "q_orc_roundtrip" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",
    "q_from_mem" ->
      """SELECT CAST(id AS BIGINT) AS id, name, CAST(x AS DOUBLE) AS x,
        |  CAST(x AS DOUBLE) * 2.0 + 1.0 AS y
        |FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', -0.5),
        |  (4, 'delta', 4.0), (5, 'epsilon', 0.0)) t(id, name, x)
        |ORDER BY id""".stripMargin)
}
