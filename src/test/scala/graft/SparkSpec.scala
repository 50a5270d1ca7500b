package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + frame-comparison helpers — the analog of
  * the reference's `assert_dataframe_equal` fixtures
  * (`/root/reference/tests/core/test_frame.py:11-23`): compare values,
  * schema names, and length, with optional row sort for
  * hash-order-nondeterministic ops and float tolerance.
  */
object SparkSpec {
  lazy val spark: SparkSession = Session.start(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** A unique subdirectory under the JVM's scratch root ([[Scratch]]),
    * deleted at exit — specs that write files use this instead of
    * leaking a fresh `Files.createTempDirectory` per test run.
    */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(Scratch.root, prefix).toString

  /** Spark jobs run by `body`, counted through a fresh job group on the
    * shared SparkContext (every session of the JVM runs its jobs there).
    * The status store is fed by the async listener bus, so the count
    * waits 2 s for it to drain.
    */
  def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "SparkSpec job count")
    try body finally sc.clearJobGroup()
    Thread.sleep(2000)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Normalize a row for comparison: floats rounded to `places`. */
  private def norm(r: Row, places: Int): Seq[Any] =
    r.toSeq.map {
      case d: Double => BigDecimal(d).setScale(places, BigDecimal.RoundingMode.HALF_UP)
      case f: Float => BigDecimal(f.toDouble).setScale(places, BigDecimal.RoundingMode.HALF_UP)
      case x => x
    }

  /** Assert frame contents equal `expected` (Seq of tuples-as-Seq),
    * sorting both sides when `sort` (groupby/distinct outputs are in
    * hash order in both the reference — README.md:29-30 — and Spark).
    */
  def assertFrame(df: DataFrame, expected: Seq[Seq[Any]],
      sort: Boolean = false, places: Int = 6): Unit = {
    val got = df.collect().toSeq.map(norm(_, places))
    val want = expected.map(r => norm(Row.fromSeq(r), places))
    val (g, w) = if (sort) (got.sortBy(_.toString), want.sortBy(_.toString)) else (got, want)
    assert(g == w, s"\ngot:  ${g.mkString("; ")}\nwant: ${w.mkString("; ")}")
  }

  def assertCols(df: DataFrame, cols: Seq[String]): Unit =
    assert(df.columns.toSeq == cols, s"columns ${df.columns.toSeq} != $cols")
}
