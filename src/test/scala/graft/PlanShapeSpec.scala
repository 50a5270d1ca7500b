package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, LocalTableScanExec, RDDScanExec, RangeExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Pins the plan shape of every query listed in `docs/PLAN_SHAPES.txt`,
  * one line per query:
  *
  * {{{
  * name [spark.x=y ...] <signature>  # why the shape matters
  * }}}
  *
  * The signature counts operators of the physical plan. `exchanges` is
  * the shuffle count of the INITIAL adaptive plan, read before
  * execution: the final plan's count races, because AQE drops a shuffle
  * only if the other side's stage finished first. Every other field
  * comes from the FINAL adaptive plan, subqueries included, since stage
  * reuse and runtime join swaps show only there.
  *
  * Protocol: the test session (the one [[Session.settings]] map on 4
  * cores), over the committed sf0.01 copy of the testdata. Pass 1
  * executes every pinned query once, so memoized `Caches` artifacts are
  * warm (cold and warm plans differ); pass 2 rebuilds and executes each query and records
  * its signature. A mismatch fails with the replacement lines: an
  * intended plan change is one reviewed diff to the file.
  */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import PlanShapeSpec._

  private lazy val pins: Seq[Pin] =
    Files.readAllLines(Paths.get(ShapesFile), UTF_8).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(Pin.parse)

  test("the pinned list names registered queries, once each, and covers the heavy set") {
    val unknown = pins.map(_.name).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"$ShapesFile names unregistered queries: $unknown")
    val dup = pins.groupBy(_.key).collect { case (k, g) if g.size > 1 => k }
    assert(dup.isEmpty, s"$ShapesFile pins these more than once: $dup")
    val unpinned = Bench.PinnedHeavy -- pins.map(_.name)
    assert(unpinned.isEmpty, s"heavy queries without a pinned shape: $unpinned")
    assert(pins.forall(_.reason.nonEmpty), s"every line of $ShapesFile needs a # reason")
  }

  test("every pinned query keeps its plan shape") {
    val t0 = System.nanoTime()
    pins.foreach(p => withConf(p.conf)(p.build(spark).collect()))
    val got = pins.map { p =>
      withConf(p.conf) {
        val df = p.build(spark)
        val exchanges = count(df.queryExecution.executedPlan, classOf[ShuffleExchangeExec])
        df.collect()
        signature(exchanges, df.queryExecution.executedPlan)
      }
    }
    info(f"${pins.size} queries, two passes: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val bad = pins.zip(got).filter { case (p, sig) => p.sig != sig }
    assert(bad.isEmpty,
      s"\n${bad.size} of ${pins.size} plan shapes differ from $ShapesFile. " +
        "If the change is intended, replace these lines:\n\n" +
        bad.map { case (p, sig) => p.copy(sig = sig).line }.mkString("\n") +
        "\n\nThey were:\n\n" + bad.map(_._1.line).mkString("\n") + "\n")
  }

  private def withConf[T](kv: Seq[(String, String)])(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def count(p: SparkPlan, classes: Class[_]*): Int =
    collectWithSubqueries(p) { case n if classes.exists(_.isInstance(n)) => n }.size

  /** The leaf a scan reads: its file or directory name, else its kind. */
  private val source: PartialFunction[SparkPlan, String] = {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.getName.takeWhile(_ != '.')).distinct.sorted.mkString("+")
    case _: RDDScanExec => "rdd"
    case _: LocalTableScanExec => "local"
    case _: RangeExec => "range"
  }

  private def signature(exchanges: Int, fin: SparkPlan): String = {
    val scans = collectWithSubqueries(fin)(source).groupMapReduce(identity)(_ => 1)(_ + _)
      .toSeq.sorted.map { case (s, c) => s"$s:$c" }.mkString(",")
    Seq(
      "exchanges" -> exchanges,
      "bcast" -> count(fin, classOf[BroadcastExchangeExec]),
      "scans" -> (if (scans.isEmpty) "-" else scans),
      "inmem" -> count(fin, classOf[InMemoryTableScanExec]),
      "smj" -> count(fin, classOf[SortMergeJoinExec]),
      "shj" -> count(fin, classOf[ShuffledHashJoinExec]),
      "bhj" -> count(fin, classOf[BroadcastHashJoinExec]),
      "bnlj" -> count(fin, classOf[BroadcastNestedLoopJoinExec]),
      "reused" -> count(fin, classOf[ReusedExchangeExec], classOf[ReusedSubqueryExec]),
      "windows" -> count(fin, classOf[WindowExec], classOf[WindowGroupLimitExec]),
      "expand" -> count(fin, classOf[ExpandExec])
    ).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }
}

object PlanShapeSpec {
  val ShapesFile = "docs/PLAN_SHAPES.txt"
  /** The committed copy of the sf0.01 testdata that perfbench runs on. */
  val SfDir = "perfbench/data/sf0.01"

  final case class Pin(name: String, conf: Seq[(String, String)], sig: String, reason: String) {
    def key: String = (name +: conf.map { case (k, v) => s"$k=$v" }).mkString(" ")
    def line: String = s"$key $sig  # $reason"
    def build(s: SparkSession): DataFrame = SparkEntry.queries(name)(s, SfDir)
  }

  object Pin {
    private val Conf = "(spark\\.[^=]+)=(.*)".r

    def parse(line: String): Pin = {
      val (shape, reason) = line.indexOf(" # ") match {
        case -1 => (line, "")
        case i => (line.take(i), line.drop(i + 3).trim)
      }
      val name :: rest = shape.trim.split("\\s+").toList
      val conf = rest.collect { case Conf(k, v) => k -> v }
      val sig = rest.filterNot(Conf.matches).mkString(" ")
      Pin(name, conf, sig, reason)
    }
  }
}
