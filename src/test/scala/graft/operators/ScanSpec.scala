package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed prefix-scan must agree exactly with the naive
  * single-partition window on any layout — that equivalence IS the
  * operator's correctness claim (offsets + local window ≡ global
  * running aggregate).
  */
class ScanSpec extends SparkSpec {
  import spark.implicits._

  private def truth(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("k"), col("v"),
      sum(col("v").cast("decimal(28,4)")).over(w).cast("double").as("run_sum"),
      max("v").over(w).as("run_max"),
      min("v").over(w).as("run_min"))
  }

  test("scan ≡ single-partition window, on every input layout") {
    val rows = (0 until 500).map(i =>
      (i.toLong, math.sin(i.toDouble) * 100.0))
    for (parts <- Seq(1, 3, 16)) {
      val df = rows.toDF("k", "v").repartition(parts)
      val got = Scan.runningAggs(df, Seq(col("k")), Seq(
          (col("v").cast("decimal(28,4)"), "sum", "run_sum_dec"),
          (col("v"), "max", "run_max"),
          (col("v"), "min", "run_min")))
        .withColumn("run_sum", col("run_sum_dec").cast("double"))
        .select("k", "v", "run_sum", "run_max", "run_min")
        .orderBy("k").collect()
      val want = truth(rows.toDF("k", "v")).orderBy("k").collect()
      assert(got.length == want.length)
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"layout parts=$parts diverges at k=${g.getLong(0)}")
      }
    }
  }

  test("type preservation: long cumsum stays long, no widening surprises") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    val out = Scan.runningAgg(df, Seq(col("k")), col("v"), "sum", "cs")
      .orderBy("k").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(10L, 30L, 60L))
  }

  test("duplicate order keys: every tie shares the deterministic prefix") {
    // ties in the order column: rows with equal k may permute within the
    // tie, but the scan result at the END of each tie group is fixed —
    // assert the per-key max running sum is layout-independent
    val rows = Seq((1L, 1.0), (1L, 2.0), (2L, 4.0), (2L, 8.0), (3L, 16.0))
    val a = Scan.runningAgg(rows.toDF("k", "v").repartition(4),
        Seq(col("k")), col("v").cast("decimal(28,4)"), "sum", "cs")
      .groupBy("k").agg(max(col("cs").cast("double")).as("m"))
      .orderBy("k").collect().map(_.getDouble(1)).toSeq
    assert(a == Seq(3.0, 15.0, 31.0))
  }
}
