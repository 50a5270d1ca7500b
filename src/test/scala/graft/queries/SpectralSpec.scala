package graft.queries

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.{Caches, SparkSpec, Tables}

/** Brute-force parity and matrix-property specs for the spectral
  * module (Gram matrix + power-iteration step), plus the driver-side
  * rounds of the 3-round iteration on hand-built matrices.
  */
class SpectralSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def bruteVectors(): Array[Array[Long]] =
    graft.Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getAs[Long]("vec_id"))
      .map(_.getAs[Seq[Float]]("embedding").toArray
        .map(x => math.round(x.toDouble * 256.0)))

  private def bruteGram(vs: Array[Array[Long]]): Array[Array[Long]] = {
    val d = 64
    val g = Array.ofDim[Long](d, d)
    for (v <- vs; i <- 0 until d; j <- 0 until d) g(i)(j) += v(i) * v(j)
    g
  }

  test("gram matrix equals the brute-force upper triangle and is PSD on probes") {
    val g = bruteGram(bruteVectors())
    val got = Spectral.qGramMatrix(spark, dir).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) -> r.getAs[Long]("g")).toMap
    assert(got.size == 64 * 65 / 2)
    for (i <- 0 until 64; j <- i until 64)
      assert(got((i, j)) == g(i)(j), s"G[$i,$j]")
    // Xᵀ X is positive semidefinite: vᵀGv = |Xv|² ≥ 0 on any probe
    val probes = Seq(
      Array.fill(64)(1L),
      Array.tabulate(64)(k => if (k % 2 == 0) 1L else -1L),
      Array.tabulate(64)(k => (k % 7).toLong - 3L))
    probes.foreach { p =>
      var acc = BigInt(0)
      for (i <- 0 until 64; j <- 0 until 64) acc += BigInt(g(i)(j)) * p(i) * p(j)
      assert(acc >= 0, "probe quadratic form negative")
    }
  }

  test("3-round power iteration matches brute force; Rayleigh quotient grows") {
    val g = bruteGram(bruteVectors())
    def quant(v: Array[Long]): Array[Long] = {
      val vmax = math.max(v.map(math.abs).max, 1L)
      v.map(x => math.signum(x) * (math.abs(x) * 256L / vmax))
    }
    def matvec(q: Array[Long]): Array[Long] =
      Array.tabulate(64)(i =>
        (0 until 64).map(j => BigInt(g(i)(j)) * q(j)).sum.toLong)
    val q1 = quant(Array.tabulate(64)(i => g(i)(0)))
    val q2 = quant(matvec(q1))
    val q3 = quant(matvec(q2))
    def rayleighMilli(q: Array[Long]): Long = {
      var num = BigInt(0)
      for (i <- 0 until 64; j <- 0 until 64) num += BigInt(q(i)) * g(i)(j) * q(j)
      val den = q.map(x => BigInt(x) * x).sum
      ((num * 1000) / den).toLong
    }
    val got = Spectral.qPcaPower2(spark, dir).collect()
    assert(got.length == 64)
    got.foreach { r =>
      val i = r.getAs[Int]("i")
      assert(r.getAs[Long]("q1") == q1(i), s"q1[$i]")
      assert(r.getAs[Long]("q2") == q2(i), s"q2[$i]")
      assert(r.getAs[Long]("q3") == q3(i), s"q3[$i]")
      assert(r.getAs[Long]("rho_milli") == rayleighMilli(q3), "rho")
    }
    // convergence gauge: on a PSD matrix the Rayleigh quotient of the
    // power iterate is non-decreasing round over round
    assert(rayleighMilli(q1) <= rayleighMilli(q2))
    assert(rayleighMilli(q2) <= rayleighMilli(q3))
  }

  test("power step equals brute-force G·(G·e0)") {
    val g = bruteGram(bruteVectors())
    val v1 = Array.tabulate(64)(i => g(i)(0))
    val v2 = Array.tabulate(64)(i => (0 until 64).map(j => g(i)(j) * v1(j)).sum)
    val got = Spectral.qPcaPower(spark, dir).collect()
    assert(got.length == 64)
    got.foreach { r =>
      val i = r.getAs[Int]("i")
      assert(r.getAs[Long]("v1") == v1(i), s"v1[$i]")
      assert(r.getAs[Long]("v2") == v2(i), s"v2[$i]")
    }
  }

  test("3-round power iteration builds with one job from the warm Gram; warm reads run none") {
    val fresh = Tables.prep(spark.newSession())
    try {
      Spectral.prewarm(fresh, dir)
      assert(jobs(Spectral.qPcaPower2(fresh, dir)) == 1, "build: the Gram collect")
      assert(jobs(Spectral.qPcaPower2(fresh, dir).collect()) == 0, "warm construction + collect")
    } finally Caches.clear(fresh)
  }

  test("3-round power iteration keeps its schema") {
    assert(Spectral.qPcaPower2(spark, dir).schema == StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("q1", LongType, nullable = true),
      StructField("q2", LongType, nullable = true),
      StructField("q3", LongType, nullable = true),
      StructField("rho_milli", LongType, nullable = true))))
  }

  private def cols(rows: Seq[Row], c: Int): Seq[Long] =
    rows.map(_.getLong(c))

  test("power3: a zero matrix gives zero iterates and a NULL Rayleigh quotient") {
    val rows = Spectral.power3(Array.ofDim[Long](4, 4))
    assert(rows.map(_.getInt(0)) == (0 until 4))
    for (c <- 1 to 3) assert(cols(rows, c) == Seq.fill(4)(0L), s"q$c")
    assert(rows.forall(_.isNullAt(4)))
  }

  test("power3: negative entries quantize as sign times the truncated magnitude") {
    // column 0 is v1 = (-3, -2, 1): vmax 3, so -2 gives -(512 DIV 3) =
    // -170 (a floor division would give -171)
    val g = Array(Array(-3L, -2L, 1L), Array(-2L, 0L, 0L), Array(1L, 0L, 0L))
    val rows = Spectral.power3(g)
    assert(cols(rows, 1) == Seq(-256L, -170L, 85L))
    // G·q1 = (1193, 512, -256): vmax 1193
    assert(cols(rows, 2) == Seq(256L, 109L, -54L))
    // G·q2 = (-1040, -512, 256): vmax 1040
    assert(cols(rows, 3) == Seq(-256L, -126L, 63L))
  }

  test("power3: a value leaving int64 throws naming the step") {
    val g = Array.ofDim[Long](2, 2)
    g(0)(0) = Long.MaxValue - 1
    val e = intercept[ArithmeticException](Spectral.power3(g))
    assert(e.getMessage.contains("round 1 quantize"), e.getMessage)
    // 2⁵⁴·2⁸ still fits, but round 2's row sums 2·2⁵⁴·256 = 2⁶³ do not
    val h = Array.fill(2, 2)(1L << 54)
    val e2 = intercept[ArithmeticException](Spectral.power3(h))
    assert(e2.getMessage.contains("round 2 matvec"), e2.getMessage)
  }
}
