package graft.core

import graft.{PlanShapeSpec, SparkSpec, Tables}
import graft.operators.FrozenLayout
import graft.queries.PandasExt
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The Series API and the fused queries reach global order through the
  * same [[graft.operators.Scan]] helpers, from opposite ends: the Series
  * verbs position rows by the 0-based ordinal, the fused queries by the
  * 1-based running count of the shared prefix artifact. An off-by-one
  * between the two shows only on an input that spans several range
  * partitions and many rolling blocks — the orders table of the
  * committed sf0.01 corpus, laid out over five partitions.
  */
class GlobalOrderSpec extends SparkSpec {
  private val dir = PlanShapeSpec.SfDir

  private def byKey(df: DataFrame, c: String): Map[Long, Any] =
    df.select(col("o_orderkey"), col(c)).collect().map(r => r.getLong(0) -> r.get(1)).toMap

  private def assertSame(what: String, got: BalooSeries, want: DataFrame, c: String): Unit = {
    val g = byKey(got.df, got.name)
    val w = byKey(want, c)
    val bad = w.keys.filter(k => g.get(k) != Some(w(k))).toSeq.sorted
    val same = g.size == w.size && bad.isEmpty
    assert(same, s"$what ≠ $c at o_orderkey ${bad.take(5).mkString(", ")}")
    assert(w.values.count(_ != null) > w.size / 2, s"$c is mostly NULL")
  }

  test("shift/diff/pctChange and rolling(7) ≡ q_shift_diff and q_rolling_global over 5 partitions") {
    val conf = Seq("spark.sql.shuffle.partitions" -> "5",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    // rebuild the memoized prefix artifact and layouts under this layout
    graft.Caches.clear(spark)
    try {
      val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
      val parts = FrozenLayout.freeze(orders, Seq(col("o_orderkey")))
        .select("__pid").distinct().count()
      assert(parts > 1, s"the range layout has $parts partition(s)")
      val s = new BalooSeries(orders, Seq("o_orderkey"), "o_totalprice")
      val shifted = PandasExt.qShiftDiff(spark, dir)
      assertSame("shift(1)", s.shift(1), shifted, "shifted")
      assertSame("diff(1)", s.diff(1), shifted, "diffed")
      assertSame("pctChange(1)", s.pctChange(1), shifted, "pct")
      val rolled = PandasExt.qRollingGlobal(spark, dir)
      val r = s.rolling(7)
      assertSame("rolling(7).sum", r.sum(), rolled, "roll_sum")
      assertSame("rolling(7).mean", r.mean(), rolled, "roll_mean")
      assertSame("rolling(7).min", r.min(), rolled, "roll_min")
      assertSame("rolling(7).max", r.max(), rolled, "roll_max")
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      graft.Caches.clear(spark)
    }
  }
}
