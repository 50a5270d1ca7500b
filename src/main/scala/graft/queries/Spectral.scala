package graft.queries

import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed spectral / linear-algebra steps over the embedding
  * corpus — the training half of PCA-style dimensionality reduction:
  * the d×d Gram matrix Xᵀ X as ONE corpus pass (the only part that
  * touches the data; shuffle and output are dims²-sized, independent
  * of corpus rows — the "mergeable summary" shape every distributed
  * PCA/SVD implementation reduces to), and power iteration toward the
  * dominant eigenvector from that dims²-sized artifact alone: one step
  * relationally, three rounds on the driver (the production shape).
  *
  * Numerics: vectors quantize to 2⁸-scaled BIGINTs — coarser than the
  * similarity family's 2²⁰ ON PURPOSE, so the CHAINED products of the
  * power step (G·G·e₀ ~ n²·q⁴·d) stay inside int64 for the test
  * corpora with headroom; every value both engines compare is an
  * exact integer. At real scale the Gram accumulates in f64 (the
  * eigen step is off-plan anyway) — exactness here is what makes the
  * oracle bit-tight, not a production requirement.
  */
object Spectral extends QueryModule {

  private val Dim = 64

  /** 2⁸-scaled exact integer vectors (see object doc for why not 2²⁰). */
  private val q8Expr =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 256.0) AS BIGINT))"

  /** Upper-triangle Gram matrix G[i,j] = Σ_v qv[i]·qv[j], i ≤ j —
    * MATERIALIZED once per (session, corpus): both spectral queries
    * read it, and at scale it is the written summary a PCA job ships
    * to the driver. Build shape: two chained integer-`sequence`
    * generators (never a transform-fed explode — the measured 15×
    * interpreted-lambda cliff), the pair product codegen'd, ONE hash
    * aggregate keyed (i,j) with map-side partials — d(d+1)/2 = 2080
    * groups regardless of corpus size.
    */
  private[queries] def gram(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "gram8")(
      Tables.embeddings(s, dir)
        .select(expr(q8Expr).as("qv"))
        .select(col("qv"), explode(expr(s"sequence(0, ${Dim - 1})")).as("i"))
        .select(col("qv"), col("i"), explode(expr(s"sequence(i, ${Dim - 1})")).as("j"))
        .select(col("i"), col("j"),
          (expr("element_at(qv, i + 1)") * expr("element_at(qv, j + 1)")).as("p"))
        .groupBy("i", "j").agg(sum(col("p")).as("g")))

  def qGramMatrix(s: SparkSession, dir: String): DataFrame =
    gram(s, dir).orderBy("i", "j")

  /** One power-iteration step v₂ = G·(G·e₀) from the materialized
    * Gram artifact: mirror the triangle to the full (symmetric)
    * matrix in-plan, take column 0 as v₁, then one broadcast join +
    * hash aggregate for the matrix-vector product — every row count
    * involved is d or d², never corpus-sized. Output carries v₁ and
    * v₂ per dimension (exact integers; the caller normalizes — the
    * eigenvector direction is v₂/‖v₂‖).
    */
  def qPcaPower(s: SparkSession, dir: String): DataFrame = {
    val full = fullGram(s, dir)
    val v1 = full.filter(col("j") === 0)
      .select(col("i").as("k"), col("g").as("v1"))
    // The g·v1 products grow ~ d·(n·q²)² — quadratic in corpus rows —
    // so the accumulation is carried in DECIMAL(38,0) (HUGEINT in the
    // oracle): past ~10⁶ embeddings a BIGINT intermediate silently
    // wraps on non-ANSI Spark while DuckDB throws. The final cast back
    // to BIGINT is exact for the test corpora (headroom documented in
    // the object doc) and fails loudly (NULL), never silently, beyond.
    full.join(broadcast(v1), col("j") === col("k"))
      .groupBy("i")
      .agg(sum(col("g").cast("decimal(38,0)") * col("v1")).cast("long").as("v2"))
      .join(broadcast(v1.select(col("k").as("i"), col("v1"))), Seq("i"))
      .select("i", "v1", "v2")
      .orderBy("i")
  }

  /** The mirrored full (symmetric) Gram matrix — d² rows off the
    * memoized triangle.
    */
  private def fullGram(s: SparkSession, dir: String): DataFrame = {
    val tri = gram(s, dir)
    tri.select(col("i"), col("j"), col("g"))
      .union(tri.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g")))
  }

  /** Power iteration run to (telemetered) convergence: the memoized
    * Gram triangle is collected in ONE job and [[power3]] runs three
    * rounds on the driver (as MLlib's `RowMatrix` PCA: Gramian
    * distributed, eigen step local). Output, a local relation in `i`
    * order: the quantized iterate after each round plus the round-3
    * Rayleigh quotient ρ = qᵀGq/qᵀq in ‰ — the convergence gauge whose
    * monotone growth on a PSD matrix SpectralSpec asserts. Memoized as
    * a derived artifact: the collect is a job, and construction must be
    * action-free once warm (PlanGuardSpec).
    */
  def qPcaPower2(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memoSide(s, dir, "q_pca_power2_result") {
      val g = Array.ofDim[Long](Dim, Dim)
      gram(s, dir).collect().foreach { r =>
        val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
        g(i)(j) = r.getAs[Long]("g"); g(j)(i) = g(i)(j)
      }
      s.createDataFrame(power3(g).asJava, Power2Schema)
    }

  private val Power2Schema = StructType(
    StructField("i", IntegerType, nullable = false) +:
      Seq("q1", "q2", "q3", "rho_milli").map(StructField(_, LongType)))

  /** The three rounds of [[qPcaPower2]] over a symmetric d×d matrix,
    * as the oracle SQL spells them. Each round re-quantizes the iterate
    * to q = sign(v)·⌊|v|·2⁸ / max(max|v|, 1)⌋, keeping its magnitude
    * FIXED (raw G·G·G·e₀ grows as ~(n·q²)³) and every value an exact
    * integer (the division runs on non-negatives, where truncation and
    * the oracle's `//` agree). Matvec sums and the Rayleigh numerator
    * are carried in BigInt (the oracle's HUGEINT); a value leaving int64
    * throws naming its step, as the oracle's cast to BIGINT does.
    * rho_milli is NULL when q3 is all zero.
    */
  private[queries] def power3(g: Array[Array[Long]]): Seq[Row] = {
    val d = g.indices
    def int64[T](step: String)(v: => T): T =
      try v catch {
        case e: ArithmeticException =>
          throw new ArithmeticException(s"q_pca_power2 $step leaves int64 (${e.getMessage})")
      }
    def quantize(round: Int, v: Array[Long]): Array[Long] =
      int64(s"round $round quantize") {
        val vmax = math.max(v.map(x => Math.absExact(x)).max, 1L)
        v.map(x => java.lang.Long.signum(x) * (Math.multiplyExact(math.abs(x), 256L) / vmax))
      }
    def matvec(round: Int, q: Array[Long]): Array[Long] =
      int64(s"round $round matvec") {
        d.map(i => d.map(j => BigInt(g(i)(j)) * q(j)).sum.bigInteger.longValueExact).toArray
      }
    val q1 = quantize(1, d.map(g(_)(0)).toArray)
    val q2 = quantize(2, matvec(2, q1))
    val q3 = quantize(3, matvec(3, q2))
    val num = (for (i <- d; j <- d) yield BigInt(q3(i)) * g(i)(j) * q3(j)).sum
    val den = q3.map(x => x * x).sum
    val rho: java.lang.Long =
      if (den == 0) null
      else int64("Rayleigh quotient")((num * 1000 / den).bigInteger.longValueExact)
    d.map(i => Row(i, q1(i), q2(i), q3(i), rho))
  }

  override def prewarm(s: SparkSession, dir: String): Unit = {
    gram(s, dir).count(); ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gram_matrix" -> (qGramMatrix(_, _)),
    "q_pca_power" -> (qPcaPower(_, _)),
    "q_pca_power2" -> (qPcaPower2(_, _)))

  private val sqlQ8 =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 256.0) AS BIGINT))"

  private val sqlGramCtes =
    s"""WITH e AS (SELECT $sqlQ8 AS qv FROM embeddings),
       |tri AS (
       |  SELECT CAST(ti.i AS INTEGER) AS i, CAST(tj.j AS INTEGER) AS j,
       |    CAST(sum(qv[ti.i + 1] * qv[tj.j + 1]) AS BIGINT) AS g
       |  FROM e, range(0, $Dim) ti(i), range(0, $Dim) tj(j)
       |  WHERE tj.j >= ti.i
       |  GROUP BY ti.i, tj.j)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_gram_matrix" ->
      s"""$sqlGramCtes
         |SELECT i, j, g FROM tri ORDER BY i, j""".stripMargin,
    "q_pca_power2" ->
      s"""$sqlGramCtes,
         |fullm AS (
         |  SELECT i, j, g FROM tri
         |  UNION ALL
         |  SELECT j AS i, i AS j, g FROM tri WHERE i <> j),
         |v1 AS (SELECT i AS k, g AS v FROM fullm WHERE j = 0),
         |q1 AS (SELECT k, CAST(sign(v) AS BIGINT) * ((abs(v) * 256)
         |    // greatest((SELECT max(abs(v)) FROM v1), 1)) AS q FROM v1),
         |v2 AS (SELECT fullm.i AS k,
         |    CAST(sum(CAST(fullm.g AS HUGEINT) * q1.q) AS BIGINT) AS v
         |  FROM fullm JOIN q1 ON fullm.j = q1.k GROUP BY fullm.i),
         |q2 AS (SELECT k, CAST(sign(v) AS BIGINT) * ((abs(v) * 256)
         |    // greatest((SELECT max(abs(v)) FROM v2), 1)) AS q FROM v2),
         |v3 AS (SELECT fullm.i AS k,
         |    CAST(sum(CAST(fullm.g AS HUGEINT) * q2.q) AS BIGINT) AS v
         |  FROM fullm JOIN q2 ON fullm.j = q2.k GROUP BY fullm.i),
         |q3 AS (SELECT k, CAST(sign(v) AS BIGINT) * ((abs(v) * 256)
         |    // greatest((SELECT max(abs(v)) FROM v3), 1)) AS q FROM v3),
         |num AS (SELECT sum(CAST(a.q AS HUGEINT) * fullm.g * b.q) AS rn
         |  FROM fullm JOIN q3 a ON a.k = fullm.i JOIN q3 b ON b.k = fullm.j),
         |den AS (SELECT CAST(sum(q * q) AS BIGINT) AS rd FROM q3)
         |SELECT q1.k AS i, q1.q AS q1, q2.q AS q2, q3.q AS q3,
         |  CASE WHEN den.rd = 0 THEN NULL
         |    ELSE CAST((num.rn * 1000) // den.rd AS BIGINT) END AS rho_milli
         |FROM q1 JOIN q2 ON q2.k = q1.k JOIN q3 ON q3.k = q1.k
         |CROSS JOIN num CROSS JOIN den
         |ORDER BY i""".stripMargin,
    "q_pca_power" ->
      s"""$sqlGramCtes,
         |fullm AS (
         |  SELECT i, j, g FROM tri
         |  UNION ALL
         |  SELECT j AS i, i AS j, g FROM tri WHERE i <> j),
         |v1 AS (SELECT i AS k, g AS v1 FROM fullm WHERE j = 0),
         |v2 AS (
         |  SELECT fullm.i,
         |    CAST(sum(CAST(fullm.g AS HUGEINT) * v1.v1) AS BIGINT) AS v2
         |  FROM fullm JOIN v1 ON fullm.j = v1.k
         |  GROUP BY fullm.i)
         |SELECT v2.i, CAST(v1.v1 AS BIGINT) AS v1, v2.v2
         |FROM v2 JOIN v1 ON v1.k = v2.i
         |ORDER BY v2.i""".stripMargin)
}
