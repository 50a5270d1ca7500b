package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types.StructType

import graft.{Caches, SparkEntry, Tables}
import graft.queries.QueryModule

/** One timed query execution that returned its rows. */
final case class Sample(pass: Int, name: String, secs: Double)

/** One benchmark workload: which registered queries run, and by how many
  * closed-loop clients. Set-up prewarms every module that holds one of the
  * queries.
  */
final case class Workload(name: String, queries: Seq[String], clients: Int) {
  def prewarm: Seq[QueryModule] = queries.map(Workloads.moduleOf).distinct
}

object Workloads {
  def moduleName(m: QueryModule): String = m.getClass.getSimpleName.stripSuffix("$")

  def moduleOf(q: String): QueryModule =
    SparkEntry.modules.find(_.queries.contains(q))
      .getOrElse(sys.error(s"unregistered query $q"))

  /** The 22 TPC-H-style queries (`q1_agg` … `q22_no_orders`). */
  def tpch: Seq[String] = SparkEntry.queries.keys.filter(_.matches("q[0-9]+_.*")).toSeq.sorted

  /** Six text queries of the LLM-pipeline set, one per plan family:
    * span and substring dedup and boilerplate removal (CorpusQuality),
    * BM25 scoring and PMI collocations (TextAnalysis), and the PCA power
    * iteration (Spectral).
    */
  val LlmText: Seq[String] = Seq("q_dedup_spans", "q_dedup_substring",
    "q_text_boilerplate", "q_bm25_multi", "q_collocations_pmi", "q_pca_power2")

  /** Untimed warm-up queries, outside both workloads: scans, filters,
    * sorts, aggregations and joins, so the engine's own code paths are
    * compiled before the first timed pass.
    */
  val WarmUp: Seq[String] = Seq("q_group_sum", "q_filter", "q_sort", "q_join_inner",
    "q_join_left", "q_join_semi", "q_group_agg_mixed", "q_count_distinct", "q_rollup")

  val names: Seq[String] = Seq("tpch4_sf001", "llm_text_sf001")

  def get(name: String, cores: Int): Workload = name match {
    case "tpch4_sf001" => Workload(name, tpch, cores)
    case "llm_text_sf001" => Workload(name, LlmText.sorted, 1)
    case other => sys.error(s"unknown workload $other")
  }

  /** The order of one pass: a pure function of (seed, pass) over the
    * workload's fixed query set.
    */
  def order(w: Workload, seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(w.queries)
}

/** Final-plan signature: exact operator counts, AQE stages and
  * subqueries included.
  */
object PlanSig extends AdaptiveSparkPlanHelper {
  val Keys: Seq[String] = Seq("exchanges", "scans", "smj", "shj", "bhj", "reused", "windows")

  def apply(p: SparkPlan): Map[String, Long] = {
    val kinds = collectWithSubqueries(p) { case n => n.getClass.getSimpleName }
    def n(names: String*): Long = kinds.count(names.contains).toLong
    Map(
      "exchanges" -> n("ShuffleExchangeExec", "BroadcastExchangeExec"),
      "scans" -> n("FileSourceScanExec", "BatchScanExec"),
      "smj" -> n("SortMergeJoinExec"),
      "shj" -> n("ShuffledHashJoinExec"),
      "bhj" -> n("BroadcastHashJoinExec"),
      "reused" -> n("ReusedExchangeExec", "ReusedSubqueryExec"),
      "windows" -> n("WindowExec", "WindowGroupLimitExec"))
  }
}

/** The benchmark harness. Modes:
  *  - `run`: set up, run the timed passes of one workload, write the raw
  *    record (and, with `--trace 1`, the per-layer record and spans);
  *  - `sql`: write each workload's query list and oracle SQL;
  *  - `order`: print the pass orders a seed gives (self-test).
  */
object Main {
  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    // The session configuration graft.Bench uses, scaled to this host.
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Scala maps/seqs to Java collections for the JSON writer. */
  private def j(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) => out.put(k.toString, j(x)) }
      out
    case s: Iterable[_] => s.map(j).toSeq.asJava
    case x => x.asInstanceOf[AnyRef]
  }

  def writeJson(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    mapper.writeValue(new java.io.File(path), j(v))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.get("mode", "run") match {
      case "sql" => sqlMode(o)
      case "order" => orderMode(o)
      case "run" => new Run(o).apply()
      case m => sys.error(s"unknown mode $m")
    }
  }

  def sqlMode(o: Opts): Unit = {
    val ws = Workloads.names.map(n => n -> Workloads.get(n, cores))
    val oracle = SparkEntry.oracleSql
    writeJson(o("out"), Map(
      "workloads" -> ws.map { case (n, w) => n -> w.queries }.toMap,
      "oracle" -> ws.flatMap(_._2.queries).distinct
        .flatMap(q => oracle.get(q).map(q -> _)).toMap))
  }

  def orderMode(o: Opts): Unit = {
    val w = Workloads.get(o("workload"), cores)
    val seed = o("seed").toLong
    writeJson(o("out"), (0 until o.get("passes", "3").toInt)
      .map(p => Workloads.order(w, seed, p)))
  }
}

/** One `run`: set-up repetitions, the fixed warm-up query, the timed
  * passes, and the untimed output dump the checker compares.
  */
final class Run(o: Main.Opts) {
  import Main._

  private val w = Workloads.get(o("workload"), cores)
  private val seed = o("seed").toLong
  private val traced = o("trace") == "1"
  private val dir = o("data")
  private val work = o("work")
  private val setupReps = o("setup-reps").toInt
  // Pass 0 is the first pass and pass 1 lets the JIT settle (on
  // tpch4_sf001 it still runs 15-25% slower than pass 2); the
  // `warmPasses` passes from `firstWarm` on are warm.
  private val firstWarm = 2
  private val warmPasses = o("warm-passes").toInt
  // Self-test hook: this query's function is replaced by one that throws.
  private val injectFail = o.get("inject-fail", "")

  private val fns: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.map { case (k, f) =>
      if (k == injectFail) k -> ((_: SparkSession, _: String) =>
        throw new RuntimeException(s"injected failure in $k"))
      else k -> f
    }

  private val tracer = new Tracer
  private var spark: SparkSession = _
  private var listener: GroupListener = _

  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val failures = new ConcurrentLinkedQueue[(Int, String, String)]()
  private val firstRows = new ConcurrentHashMap[String, (Array[Row], StructType)]()
  private val rowHash = new ConcurrentHashMap[String, Integer]()
  private val nondeterministic = ConcurrentHashMap.newKeySet[String]()
  private val catalyst = new ConcurrentHashMap[String, Map[String, Double]]()
  private val planSigs = new ConcurrentHashMap[String, Map[String, Long]]()

  private def attachListener(): Unit = {
    listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
  }

  /** One set-up: session, table registration, then the prewarm of every
    * module that holds a workload query. Returns seconds.
    */
  private def setupOnce(rep: Int): Double = {
    val t0 = System.nanoTime()
    tracer.span("setup", 0, s"setup|$rep") { sid =>
      tracer.span("session", sid, s"setup|$rep") { _ =>
        spark = session(work)
        if (traced) {
          attachListener()
          if (rep == 0) CodegenLog.install() // after Spark has configured logging
        }
      }
      tracer.span("tables", sid, s"setup|$rep") { _ =>
        Tables.prep(spark)
        Tables.names.foreach(t => Tables.load(spark, dir, t))
      }
      w.prewarm.foreach { m =>
        val name = Workloads.moduleName(m)
        tracer.span(s"prewarm.$name", sid, s"setup|$rep") { _ =>
          spark.sparkContext.setJobGroup(s"s|$rep|$name", name, false)
          try m.prewarm(spark, dir) finally spark.sparkContext.clearJobGroup()
        }
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private def runQuery(name: String, pass: Int, passSpan: Int): Unit = {
    val sc = spark.sparkContext
    val key = s"$pass|$name"
    try {
      val t0 = System.nanoTime()
      val (rows, schema) = tracer.span("query", passSpan, key) { qid =>
        sc.setJobGroup(s"c|$key", key, false)
        val df = tracer.span("construct", qid, key)(_ => fns(name)(spark, dir))
        sc.setJobGroup(s"x|$key", key, false)
        if (tracer.on) tracer.span("plan", qid, key)(_ => df.queryExecution.executedPlan)
        val rows = tracer.span("execute", qid, key)(_ => df.collect())
        if (tracer.on) {
          val qe = df.queryExecution
          catalyst.put(key, qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 })
          planSigs.put(key, PlanSig(qe.executedPlan))
        }
        (rows, df.schema)
      }
      samples.add(Sample(pass, name, (System.nanoTime() - t0) / 1e9))
      val h = java.util.Arrays.hashCode(rows.asInstanceOf[Array[AnyRef]])
      val prev = rowHash.putIfAbsent(name, h)
      if (prev == null) firstRows.put(name, (rows, schema))
      else if (prev.intValue != h) nondeterministic.add(name)
    } catch {
      case e: Throwable => failures.add((pass, name, s"${e.getClass.getName}: ${e.getMessage}".take(300)))
    } finally sc.clearJobGroup()
  }

  /** Runs `names` in order by `clients` closed-loop clients: each issues
    * its next query when the last returns.
    */
  private def closedLoop(names: Seq[String], clients: Int)(run: String => Unit): Unit = {
    val queue = new ConcurrentLinkedQueue[String](names.asJava)
    val threads = (0 until clients).map { i =>
      val t = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$i")
        var next = queue.poll()
        while (next != null) { run(next); next = queue.poll() }
      }, s"client-$i")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  /** One pass over the workload in the seed's order. Returns the pass's
    * wall seconds.
    */
  private def runPass(pass: Int): Double = {
    val t0 = System.nanoTime()
    tracer.span("pass", 0, s"pass|$pass") { pid =>
      closedLoop(Workloads.order(w, seed, pass), w.clients)(runQuery(_, pass, pid))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The fixed untimed warm-up: `Workloads.WarmUp` once, by one client per
    * core. A warm-up query that throws is reported and skipped; it is not
    * part of the workload.
    */
  private def warmUp(): Unit = tracer.span("warmup", 0, "warmup") { _ =>
    closedLoop(Workloads.WarmUp, cores) { q =>
      try fns(q)(spark, dir).collect()
      catch { case e: Throwable => System.err.println(s"warm-up $q failed: $e") }
    }
  }

  /** Writes each query's first-pass rows for the oracle comparison. */
  private def dumpResults(outDir: String): Seq[String] = {
    val names = firstRows.keySet().asScala.toSeq.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      names.map { n =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val (rows, schema) = firstRows.get(n)
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$n")
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    names
  }

  def apply(): Unit = {
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    tracer.on = traced
    val setups = (0 until setupReps).map { rep =>
      if (rep > 0) { Caches.clear(spark); spark.stop() }
      setupOnce(rep)
    }
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val cachedMb = storage.map(r => r.memSize + r.diskSize).sum / 1e6

    // Fixed untimed warm-up, so the query the seed puts first does not
    // absorb JVM warm-up.
    val warmupT0 = System.nanoTime()
    warmUp()
    val warmupSecs = (System.nanoTime() - warmupT0) / 1e9
    val firstQueryAfterStart = (System.currentTimeMillis() - processStart) / 1e3

    val passes = scala.collection.mutable.ArrayBuffer[(Int, Double, Boolean)]()
    val codegen0 = CodegenLog.compileMicros.get
    var codegenFirst = 0.0
    var pass = 0
    while (pass < firstWarm + warmPasses) {
      // Traced runs trace pass 0 and every other warm pass; the rest run
      // untraced to measure the tracing overhead.
      val on = traced && (pass == 0 || (pass >= firstWarm && (pass - firstWarm) % 2 == 0))
      if (traced && on != tracer.on) {
        GraftBenchBus.drain(spark.sparkContext)
        if (on) spark.sparkContext.addSparkListener(listener)
        else spark.sparkContext.removeSparkListener(listener)
        tracer.on = on
      }
      passes += ((pass, runPass(pass), on))
      if (pass == 0) codegenFirst = (CodegenLog.compileMicros.get - codegen0) / 1e6
      pass += 1
    }
    if (traced) GraftBenchBus.drain(spark.sparkContext)

    val checked = dumpResults(o("results"))
    val failList = failures.asScala.toSeq
    val base = Map(
      "workload" -> w.name, "seed" -> seed, "first_warm" -> firstWarm, "cores" -> cores, "clients" -> w.clients,
      "queries" -> w.queries, "setup_s" -> setups,
      "first_query_after_start_s" -> firstQueryAfterStart, "warmup_s" -> warmupSecs,
      "passes" -> passes.map { case (p, s, t) => Map("pass" -> p, "wall_s" -> s, "traced" -> t) },
      "samples" -> samples.asScala.toSeq.map(s => Seq(s.pass, s.name, s.secs)),
      "failures" -> failList.map { case (p, n, e) => Seq(p, n, e) },
      "nondeterministic" -> nondeterministic.asScala.toSeq.sorted,
      "checked" -> checked,
      "cached_mb" -> cachedMb, "cached_rdds" -> storage.length)
    val record =
      if (!traced) base
      else base + ("layers" -> layers(setups, passes.toSeq, storage.length, cachedMb, codegenFirst))
    if (traced) writeJson(o("spans"), Map(
      "spans" -> tracer.spans.asScala.toSeq.sortBy(_.id).map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "self_s" -> tracer.selfTimes))
    writeJson(o("out"), record)
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Per-layer numbers. Set-up layers are medians over the set-up
    * repetitions; pass layers are per-pass totals, median over the traced
    * warm passes.
    */
  private def layers(setups: Seq[Double], passes: Seq[(Int, Double, Boolean)],
      rdds: Int, cachedMb: Double, codegenFirst: Double): Map[String, Double] = {
    val spans = tracer.spans.asScala.toSeq
    def setupMedian(layer: String => Boolean): Double =
      median((0 until setups.size).map(r =>
        spans.filter(s => layer(s.name) && s.key == s"setup|$r").map(_.secs).sum))
    val warm = passes.filter { case (p, _, t) => t && p >= firstWarm }
    val untracedWarm = passes.filter { case (p, _, t) => !t && p >= firstWarm }
    val groups = listener.snapshot
    def passKey(k: String): Int = k.split('|')(0).toInt
    def spanSum(name: String, pass: Int): Double =
      spans.filter(s => s.name == name && s.key.startsWith(s"$pass|")).map(_.secs).sum
    def groupsOf(prefix: String, pass: Int): Iterable[GroupStats] =
      groups.collect { case (g, st) if g.startsWith(s"$prefix|$pass|") => st }
    def allGroups(pass: Int): Iterable[GroupStats] =
      Seq("c", "x").flatMap(groupsOf(_, pass))
    def perPass(f: (Int, Double) => Double): Double =
      median(warm.map { case (p, wall, _) => f(p, wall) })
    def catalystSum(phase: String, pass: Int): Double =
      catalyst.asScala.collect { case (k, m) if passKey(k) == pass => m.getOrElse(phase, 0.0) }.sum
    def sigSum(key: String, pass: Int): Double =
      planSigs.asScala.collect { case (k, m) if passKey(k) == pass => m(key).toDouble }.sum
    val mb = 1e6
    Map(
      "session.start_s" -> setupMedian(_ == "session"),
      "tables.first_load_s" -> setupMedian(_ == "tables"),
      "tables.scan_mb" -> perPass((p, _) => allGroups(p).map(_.inputBytes).sum / mb),
      "caches.prewarm_s" -> setupMedian(_.startsWith("prewarm.")),
      "caches.rdds" -> rdds.toDouble,
      "caches.cached_mb" -> cachedMb,
      "queries.construct_s" -> perPass((p, _) => spanSum("construct", p)),
      "queries.construct_first_s" -> spanSum("construct", 0),
      "queries.construct_jobs" -> perPass((p, _) => groupsOf("c", p).map(_.jobs).sum.toDouble),
      "catalyst.analysis_s" -> perPass((p, _) => catalystSum("analysis", p)),
      "catalyst.optimization_s" -> perPass((p, _) => catalystSum("optimization", p)),
      "catalyst.planning_s" -> perPass((p, _) => catalystSum("planning", p)),
      "exec.run_s" -> perPass((p, _) => spanSum("execute", p)),
      "exec.jobs" -> perPass((p, _) => allGroups(p).map(_.jobs).sum.toDouble),
      "exec.stages" -> perPass((p, _) => allGroups(p).map(_.stages).sum.toDouble),
      "exec.tasks" -> perPass((p, _) => allGroups(p).map(_.tasks).sum.toDouble),
      "exec.cpu_s" -> perPass((p, _) => allGroups(p).map(_.cpuNs).sum / 1e9),
      "exec.core_use" -> perPass((p, wall) => allGroups(p).map(_.cpuNs).sum / 1e9 / (wall * cores)),
      "exec.sched_wait_s" -> perPass((p, _) => allGroups(p).map(_.schedWaitMs).sum / 1e3),
      "exec.shuffle_write_mb" -> perPass((p, _) => allGroups(p).map(_.shuffleWriteBytes).sum / mb),
      "exec.shuffle_read_mb" -> perPass((p, _) => allGroups(p).map(_.shuffleReadBytes).sum / mb),
      "exec.spill_mb" -> perPass((p, _) => allGroups(p).map(_.spillBytes).sum / mb),
      "exec.gc_s" -> perPass((p, _) => allGroups(p).map(_.gcMs).sum / 1e3),
      "exec.task_skew" -> perPass((p, _) => (allGroups(p).map(_.worstSkew) ++ Seq(1.0)).max),
      "exec.codegen_compile_s" -> codegenFirst,
      "exec.codegen_fallbacks" -> CodegenLog.fallbacks.get.toDouble,
      "trace.overhead_pct" -> {
        val u = median(untracedWarm.map(_._2))
        if (u > 0) (median(warm.map(_._2)) / u - 1) * 100 else 0.0
      }
    ) ++ PlanSig.Keys.map(k => s"plan.$k" -> perPass((p, _) => sigSum(k, p)))
  }
}
