package graft

import java.util.Locale

import scala.collection.immutable.SeqMap
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: times the SparkEntry query suite at the given scale
  * factor and prints one JSON line. Headline numbers feed BENCH_r{N}.json
  * and are compared against BASELINE.md by the driver.
  *
  * Config mirrors a sane production profile scaled to one machine:
  * shuffle partitions = cores (not 200), AQE on (runtime coalescing +
  * skew-join splitting), FAIR scheduling (concurrent jobs share the
  * executor instead of queueing — the same knob a multi-tenant cluster
  * driver sets).
  *
  * Output protocol: the harness that records the run keeps only the LAST
  * ~2000 characters of stdout, so the JSON line must fit inside that
  * window (rounds 1–2 emitted full names at nanosecond precision — ~2.5 KB
  * — and arrived truncated, unparseable). The line therefore uses short
  * keys (`q_` stripped) and centisecond precision, and self-sizes: if the
  * per-query map would still overflow [[MaxLine]], the smallest entries
  * fold into `_other`/`_other_n`. Full names at full precision go to
  * [[DetailFile]] for offline reading.
  *
  * Timing protocol (round 7 — the round-6 review's lever (a)): the suite
  * is ~85% sub-second queries whose sequential cost is dominated by the
  * per-`count()` job-scheduling floor (~0.14 s × 155 queries ≈ 22 s at
  * round 6), which measures the session, not the plans. So the headline
  * `value` is the WALL-CLOCK of the timed phase, which runs in two legs:
  *
  *  - the [[HeavyCap]] slowest queries (by their own warmup-rep time,
  *    and anything above [[HeavyFloorSec]]) run SEQUENTIALLY — their
  *    per-query numbers are clean, attributable, and comparable round
  *    over round (these are the ones the review audits for plan
  *    regressions);
  *  - everything else runs through a fixed fair-scheduled thread pool
  *    ([[PoolSize]] workers), exactly the concurrent-job-group pattern
  *    the prep phase has always used: independent queries on a 32-core
  *    executor overlap instead of each paying the scheduling floor
  *    alone. Per-query times for pooled queries include pool contention
  *    (they are recorded for completeness, folded into `_other` in the
  *    printed line); the leg's cost enters `value` as its wall-clock.
  *
  * `value` = heavy-leg wall + pooled-leg wall, i.e. literally the time
  * this process takes to execute every registered query once, warm. The
  * plain sequential-equivalent sum is ALSO emitted (`q_sum`) so either
  * discipline can be compared against history; BASELINE.md documents
  * both. reps=2 per query: the warm second run is the one measured (the
  * first pays whole-stage-codegen + JIT, constant overhead irrelevant at
  * scale). Shared per-corpus artifacts ([[Caches]]: posting index,
  * quantized vectors, ordinal index) are built BEFORE the timed phase
  * and reported as their own `prep` field — so per-query numbers are
  * warm-cache by construction and order-independent, and the one-off
  * build cost is visible instead of hiding in whichever query ran first.
  */
object Bench {
  /** Budget for the printed JSON line — the capture window is ~2000
    * chars and sbt appends a ~70-char success line after us.
    */
  private val MaxLine = 1750
  private val DetailFile = "bench_detail.json"
  /** Workers of the pooled leg. */
  private val PoolSize = 8

  /** Queries at least this slow in their warm sequential rep are timed
    * sequentially (clean numbers), subject to [[OverflowCap]].
    */
  private val HeavyFloorSec = 0.6
  /** At most this many queries promote into the sequential leg BEYOND
    * the pinned set — bounds the sequential exposure on a load-inflated
    * host, where a uniform 3× steal would otherwise promote half the
    * suite out of the pool.
    */
  private val OverflowCap = 8

  /** Protocol 2 (round 8): the NAMED heavy set. These always run in the
    * sequential leg, so their per-query series is clean, attributable,
    * and — unlike protocol 1's per-run warmup classification, where
    * heavy-leg membership rotated with host load — STABLE round over
    * round. (The round-7 driver-run heavy set, pinned verbatim; names
    * that get faster stay pinned — a cheap sequential query costs
    * nothing and keeps its history.) Anything else whose warm rep is ≥
    * [[HeavyFloorSec]] still promotes, up to [[OverflowCap]].
    */
  private[graft] val PinnedHeavy: Set[String] = Set(
    "q_dedup_spans", "q_pca_power2", "q_dedup_index_append",
    "q_dedup_jaccard", "q_walk_mass", "q11_important",
    "q_dedup_embed_hybrid", "q20_excess_supply", "q_corr_matrix",
    "q17_small_qty", "q8_market_share", "q21_waiting",
    "q_bpe_compression", "q10_returned", "q_embed_pq_trained",
    "q5_local_revenue", "q_kmeans_iter", "q7_nation_volume",
    "q4_priority", "q16_supplier_cnt", "q2_min_cost", "q3_shipping",
    "q22_no_orders", "q_stream_decontaminate")

  private def f2(v: Double): String = String.format(Locale.ROOT, "%.2f", v)

  /** Counts Janino compile failures (logged at ERROR by Spark's
    * CodeGenerator just before it silently falls back to interpreted
    * eval) for the whole run — the round-12 bench tail carried such a
    * stack trace truncated past its header, which left the failing query
    * unidentifiable. The count is emitted as `codegen_fallbacks` in the
    * JSON line (0 expected: an interpreted fallback does no common-
    * subexpression elimination and can hide an O(n²), the round-12 100×
    * lesson). Log4j2 appender on the root logger: level ERROR always
    * reaches it regardless of the session's log level.
    */
  private val codegenFails = new java.util.concurrent.atomic.AtomicInteger(0)
  // false ⇒ the appender never attached (non-log4j2-core binding, cast
  // failure, ...) and codegen_fallbacks is emitted as -1 — "unknown",
  // distinguishable from a genuine zero (ADVICE r13).
  private val codegenCounterInstalled =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private def codegenFallbacks: Int =
    if (codegenCounterInstalled.get) codegenFails.get else -1
  private def installCodegenFailCounter(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    try {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val app = new AbstractAppender("graft-codegen-fail-counter", null,
          null, true, Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
          val msg = e.getMessage.getFormattedMessage
          if (e.getLoggerName.endsWith("CodeGenerator") &&
              msg.contains("Failed to compile")) { codegenFails.incrementAndGet(); () }
        }
      }
      app.start()
      ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
      ctx.updateLoggers()
      codegenCounterInstalled.set(true)
    } catch { case _: Throwable => } // best effort — never fail the bench
  }

  /** Classes Spark has compiled in this JVM and their Janino nanoseconds.
    * The first call initializes Spark's code generator, which sizes its
    * class cache from the conf of that moment, so call it only after
    * [[Tables.prep]].
    */
  private[graft] def compiles(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** The detail file's `codegen` object: the classes compiled and the
    * Janino seconds of each phase, from [[compiles]] read at the start
    * (`marks.head`) and at the end of each named phase.
    */
  private[graft] def codegenDetail(marks: Seq[(String, (Long, Long))]): SeqMap[String, Any] =
    SeqMap.from(marks.sliding(2).collect { case Seq((_, (c0, t0)), (phase, (c1, t1))) =>
      phase -> SeqMap("classes" -> (c1 - c0), "janino_s" -> (t1 - t0) / 1e9) })

  /** A registered query: the suite's unit of timing. */
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    installCodegenFailCounter()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(sys.env)
    val spark = Session.start(cpus)

    // Host 1-minute load average at start and end of the run: the
    // shared-host noise signature (documented in BASELINE.md) shows up
    // as load ≫ core count; recording it inline lets a reader separate
    // host steal from plan regressions without a re-run.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load0 = osBean.getSystemLoadAverage
    val compiled = Seq.newBuilder[(String, (Long, Long))] += "start" -> compiles()

    // Warm the JVM + parquet footers once so timings measure the queries,
    // not first-touch class loading.
    SparkEntry.queries.get("q1_agg").foreach(f => f(spark, sfDir).count())

    // Build the shared per-corpus artifacts up front; their cost is the
    // `prep` field, not part of any query's time. Per-module seconds go
    // to the detail file so a prep regression is attributable.
    // Prewarms are submitted CONCURRENTLY: each module's artifact chain
    // alone underfills the executor (small partitions, serial stages),
    // so overlapping the independent builds fills the idle cores.
    // Caches.memo serializes any cross-module touch of the same
    // artifact on its holder, so the overlap cannot double-build.
    // Per-module seconds are each thread's own elapsed (they overlap;
    // their sum exceeds the wall-clock `prep` field).
    val (prepDetail, prepSec) = timed {
      val prepThreads = SparkEntry.modules.map { m =>
        val name = m.getClass.getSimpleName.stripSuffix("$")
        val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, (String, Double)]]()
        val t = new Thread(() => {
          // Prep threads share the DEFAULT pool on purpose: within a pool
          // jobs run FIFO, which lets the critical-path chain (the posting
          // index every other module waits on) hog the executor early with
          // the independent builds backfilling — per-thread FAIR pools
          // here measurably slowed the wall (+7 s at sf0.1) by splitting
          // resources away from the chain everything blocks on.
          try out.set(Right(name -> timed(m.prewarm(spark, sfDir))._2))
          catch { case e: Throwable => out.set(Left(e)) }
        }, s"prewarm-$name")
        t.start(); (t, out)
      }
      // A failed prewarm must fail the bench with ITS exception (as the
      // sequential loop did), not a downstream null from the dead thread.
      prepThreads
        .map { case (t, out) => t.join(); out.get().fold(throw _, identity) }
        .filter(_._2 >= 0.005)
    }
    compiled += "prep" -> compiles()

    // Optional comma-separated query filter for targeted profiling.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Every timed or untimed execution of a query: its seconds, or None
    // if it threw. Jobs carry the query's name (guide §1.5) — the job
    // description is thread-local, so pooled workers tag their own
    // queries correctly in the UI / event log.
    def run(name: String, fn: Query): Option[Double] = {
      spark.sparkContext.setJobDescription(name)
      try Some(timed(fn(spark, sfDir).count())._2)
      catch { case _: Throwable => None }
      finally spark.sparkContext.setJobDescription(null)
    }

    // One warmup rep, sequential: pays codegen/JIT per query. A query
    // that throws in warmup is pushed to the sequential leg so its
    // failure is re-observed (and recorded) under clean timing.
    val cold = selected.map { case (name, fn) => (name, fn, run(name, fn).isDefined) }
    compiled += "warmup" -> compiles()
    // Warm SEQUENTIAL pass (protocol 2): one contention-free, warm,
    // all-sequential per-query series — the pre-round-7 timing
    // discipline, re-measured every round as the cross-round continuity
    // anchor (`seq`/`seq_sum`; pooled `queries` numbers include pool
    // contention by design and must not be compared against it). Also
    // the heavy-leg overflow classifier.
    val warm0 = cold.map { case (name, fn, okCold) =>
      (name, fn, if (okCold) run(name, fn) else None)
    }
    // Load-robust anchor (round 11): a transient host-load spike lands
    // in whichever queries it overlapped, inflating seq_sum and the
    // heavy classifier. Re-measure the slowest few outliers once more
    // and keep each query's MIN — a second sample at a different moment
    // bounds one-sided steal (a genuine plan regression is slow BOTH
    // times; a spike rarely hits the same query twice). BASELINE.md
    // documents the rule.
    val reMeasure = warm0.collect { case (name, _, Some(t)) => (name, t) }
      .sortBy(-_._2).take(10).map(_._1).toSet
    val warm = warm0.map {
      case (name, fn, Some(t)) if reMeasure(name) =>
        (name, fn, Some(run(name, fn).fold(t)(math.min(t, _))))
      case w => w
    }
    compiled += "seq" -> compiles()
    val seqSum = warm.flatMap(_._3).sum
    // The pre-re-measure sum — the single-shot discipline every round
    // before 11 recorded. Emitting both lets a cross-round reader
    // separate the min-of-two protocol's one-sided deflation from real
    // plan deltas.
    val seqSumRaw = warm0.flatMap(_._3).sum
    // Trivial-query sentinels: q_head (limit-100 scan) and q_group_sum
    // (5-group agg) are sub-0.1 s warm on a quiet host at every SF; a
    // warm rep over ~1 s can only be host steal.
    val sentinelSlow = warm.exists { case (n, _, t) =>
      (n == "q_head" || n == "q_group_sum") && t.exists(_ > 1.0) }
    // Failed queries first, then slowest first.
    val overflow = warm.sortBy(_._3.fold(Double.NegativeInfinity)(-_))
      .filter(w => !PinnedHeavy(w._1) && w._3.forall(_ >= HeavyFloorSec))
      .take(OverflowCap).map(_._1).toSet
    val heavyNames = PinnedHeavy.filter(n => warm.exists(_._1 == n)) ++ overflow

    // Failed queries are recorded as -1 (NOT their elapsed-until-throw
    // time — a fast crash must never read as a speedup) and listed in
    // the JSON's "failed" array.
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def timedRun(name: String, fn: Query): Double =
      run(name, fn).getOrElse { failed.add(name); -1.0 }

    // Leg 1: the heavy queries, one at a time, whole executor each.
    val (heavyResults, heavyWall) = timed {
      warm.collect { case (name, fn, _) if heavyNames(name) => name -> timedRun(name, fn) }
    }
    // Leg 2: everything else through a fixed worker pool. Results keep
    // per-query elapsed (contention-inclusive) for the detail file.
    val (lightResults, lightWall) = timed {
      val lightQueue = new java.util.concurrent.ConcurrentLinkedQueue[(String, Query)]()
      warm.foreach { case (name, fn, _) => if (!heavyNames(name)) lightQueue.add((name, fn)) }
      val lightResults = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
      val workers = (0 until PoolSize).map { i =>
        val t = new Thread(() => {
          // own pool per worker — see the prep threads' comment
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"bench-$i")
          var next = lightQueue.poll()
          while (next != null) {
            lightResults.add(next._1 -> timedRun(next._1, next._2))
            next = lightQueue.poll()
          }
        }, s"bench-pool-$i")
        t.start(); t
      }
      workers.foreach(_.join())
      lightResults
    }
    compiled += "timed" -> compiles()
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").fold(-1.0)(_.getUsage.getUsed / 1048576.0)
    val pooled = lightResults.asScala.toSeq
    val results = (heavyResults ++ pooled).sortBy(_._1)

    // Headline: wall-clock of the timed phase (what the suite costs to
    // run). qSum: the per-query sum — the pre-round-7 discipline, kept
    // for cross-round comparability (pooled entries make it an upper
    // bound on their sequential cost, not below it).
    val total = heavyWall + lightWall
    val qSum = results.collect { case (_, v) if v >= 0 => v }.sum
    val load1 = osBean.getSystemLoadAverage
    // The non-comparable-sample flag (round 11, after round 10's 3.13×
    // false alarm at load 8.9→16.9): trivial sentinels over ~1 s warm,
    // or 1-min load above 4 at the START of the run, mean the sample
    // measures the host, not the plans — the reader (and the driver's
    // baseline compare) should discount it and re-run quiet. The END
    // load is deliberately NOT a trigger: the bench's own 32-thread
    // timed phase always drives the 1-min average up by its finish
    // (measured ~10 on an otherwise-idle box), so it cannot separate
    // host steal from self-load — the sentinels cover mid-run spikes.
    val loadSkewed = sentinelSlow || load0 > 4.0
    // The definitive-anchor marker (machine-readable twin of
    // BASELINE.md's idle-host rule): start load < 0.5 and clean
    // sentinels mean this sample's seq_sum is cross-round comparable
    // as-is, no exegesis needed.
    val anchor = !sentinelSlow && load0 < 0.5

    // Full-precision detail for offline reading (best effort — the
    // printed line is the artifact of record). `codegen` holds the
    // classes compiled in each phase and `metaspace_mb` the class
    // metadata in use after the timed legs. A warm phase compiles a few
    // dozen classes for AQE's plan variants; thousands mean a codegen
    // cache too small for the suite (see Tables.prep).
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(DetailFile),
        jsonMapper.writeValueAsString(SeqMap(
          "protocol" -> 2, "total" -> total, "q_sum" -> qSum,
          "seq_sum" -> seqSum, "seq_sum_raw" -> seqSumRaw,
          "heavy_wall" -> heavyWall, "light_wall" -> lightWall,
          "pool" -> PoolSize, "heavy" -> heavyResults.map(_._1).sorted,
          "prep" -> prepSec, "prep_by_module" -> SeqMap.from(prepDetail),
          "load" -> Seq(load0, load1), "load_skewed" -> loadSkewed,
          "anchor" -> anchor, "codegen_fallbacks" -> codegenFallbacks,
          "sf" -> sfDir, "queries" -> SeqMap.from(results),
          "seq" -> SeqMap.from(warm.collect { case (k, _, Some(t)) => k -> t }),
          "codegen" -> codegenDetail(compiled.result()),
          "metaspace_mb" -> metaspaceMb)) + "\n")
    } catch { case _: Throwable => }

    println(line(total = total, qSum = qSum, seqSum = seqSum,
      seqSumRaw = seqSumRaw, seqWall = heavyWall, poolWall = lightWall,
      prep = prepSec, codegenFallbacks = codegenFallbacks,
      heavy = heavyResults, pooled = pooled.map(_._2),
      failed = failed.asScala.toSeq, load = (load0, load1),
      cpus = cpus, loadSkewed = loadSkewed, anchor = anchor, sfDir = sfDir))
    spark.stop()
  }

  /** The printed line: short keys, 2-decimal seconds, slowest first.
    * ONLY the sequentially-timed (`heavy`) entries print individually —
    * their numbers are clean and comparable round over round; `pooled`
    * entries are contention-inflated by design (a 0.4 s query can read
    * 1.6 s inside the pool), so surfacing them per-name would read as
    * phantom regressions. The pool folds into `_other`/`_other_n`
    * (per-query pool numbers live in the detail file), and if the line
    * would overflow [[MaxLine]], the smallest heavy entries fold there
    * too. A failed query (-1) prints as -1.00, adds nothing to
    * `_other` and is listed, sorted, in `failed`. An `sfDir` ending in `sfN` prints N as a number, any
    * other as a string.
    *
    * protocol:2 — "value" is the two-leg wall clock (sequential heavy
    * leg + pooled rest); cross-round per-query deltas must key off
    * seq_sum / the detail file's warm all-sequential "seq" map, the
    * pre-round-7 timing discipline re-measured every round.
    */
  private[graft] def line(total: Double, qSum: Double, seqSum: Double,
      seqSumRaw: Double, seqWall: Double, poolWall: Double, prep: Double,
      codegenFallbacks: Int, heavy: Seq[(String, Double)], pooled: Seq[Double],
      failed: Seq[String], load: (Double, Double), cpus: Int,
      loadSkewed: Boolean, anchor: Boolean, sfDir: String): String = {
    def secs(v: Double) = new java.math.BigDecimal(f2(v))
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)/*$".r.findFirstMatchIn(sfDir)
      .map(m => new java.math.BigDecimal(m.group(1))).getOrElse(sfDir)
    val pooledSum = pooled.filter(_ >= 0).sum
    val entries = heavy.map { case (k, v) => (k.stripPrefix("q_"), v) }
      .sortBy { case (_, v) => -v }
    def render(shownN: Int): String = {
      val (shown, rest) = entries.splitAt(shownN)
      val restN = rest.length + pooled.length
      val queries = SeqMap.from(shown.map { case (k, v) => k -> secs(v) }) ++
        (if (restN > 0) Seq("_other" -> secs(rest.map(_._2.max(0.0)).sum + pooledSum),
            "_other_n" -> restN)
         else Nil)
      jsonMapper.writeValueAsString(SeqMap[String, Any](
        "metric" -> "total", "value" -> secs(total), "unit" -> "sec", "protocol" -> 2,
        "q_sum" -> secs(qSum), "seq_sum" -> secs(seqSum), "seq_sum_raw" -> secs(seqSumRaw),
        "seq_wall" -> secs(seqWall), "pool_wall" -> secs(poolWall), "pool" -> PoolSize,
        "prep" -> secs(prep), "codegen_fallbacks" -> codegenFallbacks,
        "queries" -> queries) ++
        (if (failed.isEmpty) Nil else Seq("failed" -> failed.sorted)) ++
        Seq("load" -> Seq(secs(load._1), secs(load._2)), "cpus" -> cpus) ++
        (if (loadSkewed) Seq("load_skewed" -> true) else Nil) ++
        (if (anchor) Seq("anchor" -> true) else Nil) ++
        Seq("sf" -> sf))
    }
    // the largest prefix of slowest-first entries that fits
    (entries.length to 0 by -1).iterator.map(render)
      .find(_.length <= MaxLine).getOrElse(render(0))
  }
}
