package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2.9 — window / event-time analytics (beyond-reference: the
  * reference has NO window functions or streaming at all; these are the
  * batch faces of the streaming ops in `graft.streaming`).
  *
  * Scale notes: every analytic window here is PARTITIONED (by user) —
  * ranking/lag/lead/rolling state stays distributed; tumbling/sliding
  * aggregation is a plain groupBy on the bucketed timestamp, i.e. one
  * shuffle with map-side partial aggregation. Running sums go through
  * decimal (order-independent, oracle-exact).
  */
object Windows extends QueryModule {

  private val dec = DecimalType(28, 4)

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_id", "user_id", "event_type", "value", "ts")

  /** Ranking + offset functions per user ((user_id, ts) is unique;
    * event_id appended for belt-and-braces totality).
    */
  def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        row_number().over(w).as("rn"),
        lag("value", 1).over(w).as("prev_value"),
        lead("value", 1).over(w).as("next_value"),
        sum(col("value").cast(dec)).over(wRun).cast(DoubleType).as("running_sum"))
      .orderBy("user_id", "rn")
  }

  /** The full ranking-function suite (rank/dense_rank/ntile/
    * percent_rank/cume_dist + first/last over frames) — all integer or
    * single-division results, SQL-standard semantics on both engines.
    */
  def qWindowRankFull(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .select(
        col("user_id"), col("event_id"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        first(col("value")).over(wFrame).as("first_value"),
        last(col("value")).over(wFrame).as("last_value"))
      .orderBy("user_id", "rnk")
  }

  /** Rolling 3-row mean per user (2 preceding .. current). */
  def qWindowMoving(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-2, Window.currentRow)
    ev(s, dir)
      .select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        (sum(col("value").cast(dec)).over(w).cast(DoubleType)
          / count(lit(1)).over(w)).as("mov_avg3"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Tumbling 1-hour event-time windows — `window(ts, '1 hour')`; the
    * batch twin of the streaming tumbling aggregation.
    */
  def qWindowTumbling(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("bucket", "event_type")

  /** Sliding 1-hour windows every 30 minutes — each event lands in two
    * windows; equivalent to the union of two offset tumbling grids.
    */
  def qWindowSliding(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), Q.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("n"), col("sum_value"))
      .orderBy("bucket")

  /** Time-series RESAMPLE with gap-fill + forward-fill — pandas
    * `df.resample('1h').mean().ffill()` per user, an op the reference
    * (and plain SQL groupBy) lacks: hourly means leave HOLES where a
    * user had no events, and downstream feature pipelines need a dense
    * regular grid. Three stages, all partitioned by user:
    * (1) bucket+aggregate — one shuffle, map-side partial, exact
    * decimal mean; (2) densify — per-user `sequence(min_h, max_h, 1h)`
    * exploded into the full grid (generated, never shuffled: the span
    * agg reuses the hourly shuffle's partitioning) left-joined to the
    * observations; (3) forward-fill — `last(value, ignoreNulls)` over a
    * per-user ordered window, running state one scalar per user. No
    * global windows, so 10⁹ users scale linearly; a user's grid length
    * is bounded by their own activity span.
    */
  def qEventsResample(s: SparkSession, dir: String): DataFrame = {
    val hourly = ev(s, dir)
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .agg((sum(col("value").cast(dec)).cast(DoubleType) / count(col("value")))
        .as("avg_value"))
    val grid = hourly
      .groupBy("user_id").agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    val wFill = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"), col("avg_value"),
        last(col("avg_value"), ignoreNulls = true).over(wFill).as("value_ffill"))
      .orderBy("user_id", "h")
  }

  /** Semi-structured extraction from events.props (JSON string) — the
    * `get_json_object` path a training-data pipeline uses for metadata
    * columns; row-level and codegen'd, plus a grouped rollup on the
    * extracted key.
    */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
        max(col("k")).as("max_k"), Q.dsum(col("k")).as("sum_k"))
      .orderBy("event_type")

  /** Ordered conversion funnel over the events stream — the classic
    * product-analytics operator: users reaching view → click strictly
    * after their first view → purchase strictly after that click.
    * Shape: three min-aggregates and two joins, ALL keyed on user_id —
    * the same hash partitioning carries through every stage
    * (co-partitioned joins, AQE broadcasts the shrinking step tables),
    * and there is no window over the raw stream, so the plan's shuffle
    * volume is one pass of (user, ts) pairs regardless of event count.
    */
  def qEventFunnel(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir)
    val firstView = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val firstClick = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("tc"))
      .join(firstView, "user_id")
      .filter(col("tc") > col("t_view"))
      .groupBy("user_id").agg(min(col("tc")).as("t_click"))
    val firstPurchase = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("tp"))
      .join(firstClick, "user_id")
      .filter(col("tp") > col("t_click"))
      .groupBy("user_id").agg(min(col("tp")).as("t_purchase"))
    def step(i: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("step"), lit(name).as("step_name"), col("n_users"))
    step(1, "view", firstView)
      .unionAll(step(2, "click_after_view", firstClick))
      .unionAll(step(3, "purchase_after_click", firstPurchase))
      .orderBy("step")
  }

  /** Per-type z-score anomaly flagging — the monitoring twin of the
    * funnel telemetry: events whose value sits more than 3 sample
    * standard deviations from their type's mean. The per-type moments
    * come from ONE pass of exact decimal sums ([[Q.davg]]/[[Q.dstd]] —
    * order-independent, so bit-identical on any engine), the 5-row
    * stats table broadcasts back, and the flag itself is a map-only
    * double comparison evaluated identically on both engines. At scale
    * this is the streaming-scoring shape: moments maintained by the
    * aggregation pipeline, the scoring join stateless per batch.
    */
  def qEventAnomaly(s: SparkSession, dir: String): DataFrame = {
    val events = ev(s, dir).select("event_id", "event_type", "value")
    val stats = events.groupBy("event_type").agg(
      Q.davg(col("value")).as("mu"),
      Q.dstd(col("value")).as("sigma"))
    events.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 3.0)
      .select("event_id", "event_type", "value", "mu", "sigma", "z")
      .orderBy("event_id")
  }

  /** Clicks as-of joined to the same user's views, with the output
    * shared by the five as-of queries; the `asOf` options (direction,
    * exact matches, staleness bound) are the one thing they vary.
    */
  private def clickViewAsOf(s: SparkSession, dir: String,
      toleranceUs: Long = -1L, direction: String = "backward",
      allowExactMatches: Boolean = true): DataFrame = {
    val clicks = ev(s, dir).filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("click_value"))
    val views = ev(s, dir).filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("view_value"))
    graft.operators.AsOfJoin.asOf(
        clicks, views, Seq("user_id"), "ts", Seq("view_value"), rightTsAs = "view_ts",
        toleranceUs = toleranceUs, direction = direction,
        allowExactMatches = allowExactMatches)
      .select("event_id", "user_id", "ts", "click_value", "view_value", "view_ts")
      .orderBy("event_id")
  }

  /** As-of join (see [[graft.operators.AsOfJoin]]): for every click,
    * the user's most recent view at-or-before it — trades⋈quotes shape
    * on the events table. Oracle is DuckDB's native ASOF LEFT JOIN.
    */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = clickViewAsOf(s, dir)

  /** Forward as-of join (pandas merge_asof direction='forward'): for
    * every click, the user's EARLIEST view at-or-after it — the
    * "next event" attribution shape. Same one-shuffle plan as
    * [[qAsofJoin]] traversed in descending time order; oracle is
    * DuckDB's native ASOF with the inequality flipped.
    */
  def qAsofForward(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, direction = "forward")

  /** Nearest as-of join (pandas merge_asof direction='nearest'):
    * whichever of the at-or-before / at-or-after views is closer in
    * time, backward winning ties. Still one shuffle — both candidate
    * windows share the keyed partitioning. Oracle composes two native
    * DuckDB ASOF joins and picks by gap with the same tie rule.
    */
  def qAsofNearest(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, direction = "nearest")

  /** Strict as-of join (pandas allow_exact_matches=False): a view AT
    * the click instant does not match — only strictly-before ones.
    * Implemented by flipping the side order at equal timestamps; the
    * oracle is DuckDB's native ASOF with `<`.
    */
  def qAsofStrict(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, allowExactMatches = false)

  /** Bounded-staleness as-of tolerance (pandas merge_asof `tolerance`):
    * a view older than this is no match. 30 min suits the testdata's
    * event cadence (some matches survive, some age out).
    */
  private val AsofTolUs = 30L * 60L * 1000000L

  /** As-of join with a staleness bound: like [[qAsofJoin]] but a match
    * more than [[AsofTolUs]] before the click is discarded (NULL
    * payload) — the quote-too-stale rule every real trades⋈quotes job
    * applies. Same one-shuffle plan; the bound is a post-predicate on
    * the carried match timestamp.
    */
  def qAsofTolerance(s: SparkSession, dir: String): DataFrame =
    clickViewAsOf(s, dir, toleranceUs = AsofTolUs)

  /** Session gap: a new session starts after this much user inactivity.
    * (6 h suits the testdata's per-user event cadence; production tunes
    * it per product.)
    */
  private[queries] val SessionGapUs = 6L * 3600L * 1000000L

  /** Batch sessionization — the classic gaps-and-islands shape and the
    * batch twin of the streaming `flatMapGroupsWithState` sessionizer:
    * per user, an event opens a new session when the gap to the previous
    * event exceeds [[SessionGapUs]]; session id = running count of
    * session-opens; then one aggregate per (user, session).
    *
    * Scale: both windows AND the final groupBy are partitioned by
    * user_id — one shuffle on user_id total (the window sort and the
    * aggregation reuse the same partitioning), no global ordering
    * anywhere. Gap math in exact epoch-microsecond integers.
    */
  /** Top paths to keep in the sequence-mining report. */
  private val PathTopK = 15

  /** Event-sequence mining: the most frequent 3-step event-type paths
    * across all user streams — the exploratory complement of
    * [[qEventFunnel]] (which checks ONE fixed sequence, this discovers
    * which sequences happen). Per-user lead windows build the
    * trigrams (parallelism = users, state = 2 rows — no per-user
    * collect_list materialization, which would blow up on a power
    * user), then one hash aggregate keyed by the ≤|types|³ paths with
    * both raw occurrences and distinct-user support, top-k off a
    * TakeOrderedAndProject. Ties broken on the full path — total
    * order. countDistinct plans as Catalyst's expand + two-level agg;
    * the key space stays types³-bounded regardless of event volume.
    */
  def qEventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("e1"))
      .withColumn("e2", lead("e1", 1).over(w))
      .withColumn("e3", lead("e1", 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occ").desc, col("e1"), col("e2"), col("e3"))
      .limit(PathTopK)
  }

  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("us", 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull
          || col("us") - col("prev_us") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum("is_new").over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        Q.dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")
  }

  /** Range-join bucket width = the probe window length (10 min), so
    * every probe interval spans at most two buckets.
    */
  private val RangeWinUs = 600L * 1000000L

  /** Interval/range join via time bucketing — for every error event,
    * the same user's clicks in the preceding 10 minutes. Spark plans a
    * raw `t1.ts BETWEEN t2.ts - w AND t2.ts` theta join as a nested-loop
    * cross product (O(n·m) — a cluster-killer at scale), so the probe
    * side explodes to the ≤2 bucket keys its window can span and the
    * join becomes an EQUI-join on (user_id, bucket) + an exact residual
    * filter: shuffle on small integer keys, candidates bounded by
    * per-bucket occupancy. The standard distributed interval-join shape.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val err = e.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"), col("value"))
    val candidates = err
      .withColumn("bkt", explode(array(
        floor(col("us") / RangeWinUs) - 1, floor(col("us") / RangeWinUs))))
      .join(clk.withColumn("bkt", floor(col("cus") / RangeWinUs)),
        Seq("user_id", "bkt"))
      .filter(col("cus") >= col("us") - RangeWinUs && col("cus") <= col("us"))
    val counted = candidates.groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks"), Q.dsum(col("value")).as("click_value"))
    err.join(counted, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("click_value"), lit(0.0)).as("click_value"))
      .orderBy("event_id")
  }

  /** Value-RANGE window frame (vs the row frames above): per event, the
    * count/sum of the same user's events in the trailing 10 minutes —
    * frame bounds are values of the ORDER BY key (exact epoch micros),
    * not row offsets, so ties (peers) enter the frame together on both
    * engines.
    */
  def qWindowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-RangeWinUs, 0)
    ev(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .select(
        col("user_id"), col("event_id"), col("ts"), col("value"),
        count(lit(1)).over(w).as("n_10m"),
        sum(col("value").cast(dec)).over(w).cast(DoubleType).as("sum_10m"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Micros per week — the cohort bucketing constant. */
  private val WeekUs = 604800000000L

  /** Retention COHORT matrix — the product-analytics staple: users
    * bucketed by first-seen week, activity counted per (cohort,
    * week-offset) cell, one row per cell with its distinct-user count.
    * All bucketing is integer epoch-micros division (no calendar/
    * timezone arithmetic to diverge cross-engine). Shape: first-seen is
    * an unbounded window MIN over ONE user-keyed exchange — not an
    * aggregate joined back (the r13 shape scanned events twice and, at
    * scales where the per-user aggregate outgrows a broadcast, paid a
    * second full exchange for the join; guide §2.4). The
    * (user, cohort, offset) dedup then runs exchange-free: hash
    * partitioning on user_id already clusters every distinct key whose
    * first component is user_id. Output is a weeks² matrix regardless
    * of event volume.
    */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    ev.withColumn("first_us",
        min(col("us")).over(Window.partitionBy("user_id")))
      .select(col("user_id"),
        expr(s"first_us DIV $WeekUs").as("cohort_week"),
        expr(s"(us - first_us) DIV $WeekUs").as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Interval UNION per user — the sweep-line pattern: each event opens
    * a 30 s activity interval [ts, ts+30s]; overlapping intervals merge
    * into islands and the answer is the total covered time (the
    * "actual active seconds" metric sessionization's gap rule can't
    * express, because islands merge on OVERLAP, not adjacency).
    *
    * Distributed shape: one user-keyed exchange carries BOTH windows —
    * the exclusive running max of interval ends (what the sweep line
    * has covered so far) and the running island count (cumsum of
    * new-island flags). All arithmetic on integer epoch-MICROseconds
    * (the session-zone micros both engines read identically) — exact
    * everywhere. Per-user history sorts within its partition; no global
    * order anywhere.
    */
  def qIntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val span = 30L * 1000000L
    val wPrev = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("end_us", col("us") + span)
      .withColumn("max_end_before", max("end_us").over(wPrev))
      .withColumn("new_island",
        when(col("max_end_before").isNull
          || col("us") > col("max_end_before"), 1L).otherwise(0L))
      .withColumn("island", sum("new_island").over(wRun))
      .groupBy("user_id", "island")
      .agg(min("us").as("i_start"), max("end_us").as("i_end"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("i_end") - col("i_start")).as("covered_us"))
      .orderBy("user_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_union" -> (qIntervalUnion(_, _)),
    "q_cohort_retention" -> (qCohortRetention(_, _)),
    "q_sessionize" -> (qSessionize(_, _)),
    "q_range_join" -> (qRangeJoin(_, _)),
    "q_window_range" -> (qWindowRange(_, _)),
    "q_window_rank_full" -> (qWindowRankFull(_, _)),
    "q_asof_join" -> (qAsofJoin(_, _)),
    "q_asof_forward" -> (qAsofForward(_, _)),
    "q_asof_nearest" -> (qAsofNearest(_, _)),
    "q_asof_strict" -> (qAsofStrict(_, _)),
    "q_asof_tolerance" -> (qAsofTolerance(_, _)),
    "q_json_extract" -> (qJsonExtract(_, _)),
    "q_event_funnel" -> (qEventFunnel(_, _)),
    "q_event_paths" -> (qEventPaths(_, _)),
    "q_event_anomaly" -> (qEventAnomaly(_, _)),
    "q_window_rank" -> (qWindowRank(_, _)),
    "q_window_moving" -> (qWindowMoving(_, _)),
    "q_window_tumbling" -> (qWindowTumbling(_, _)),
    "q_window_sliding" -> (qWindowSliding(_, _)),
    "q_events_resample" -> (qEventsResample(_, _)))

  // DuckDB reads ts as TIMESTAMP_NS; CAST to TIMESTAMP truncates to the
  // same micros Spark's events loader derives (ts_ns DIV 1000).
  private[queries] val evSql =
    """SELECT event_id, user_id, event_type, value,
      |  CAST(ts AS TIMESTAMP) AS ts FROM events""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_interval_union" ->
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 30000000 AS end_us
        |  FROM events),
        |m AS (SELECT user_id, event_id, us, end_us,
        |    max(end_us) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end_before
        |  FROM e),
        |f AS (SELECT user_id, us, end_us,
        |    CASE WHEN max_end_before IS NULL OR us > max_end_before
        |      THEN 1 ELSE 0 END AS new_island,
        |    event_id FROM m),
        |i AS (SELECT user_id, us, end_us,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f),
        |g AS (SELECT user_id, island, min(us) AS i_start, max(end_us) AS i_end
        |  FROM i GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(i_end - i_start) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_cohort_retention" ->
      s"""WITH e AS (SELECT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |f AS (SELECT user_id, min(us) AS first_us FROM e GROUP BY user_id),
         |w AS (SELECT DISTINCT e.user_id,
         |    first_us // $WeekUs AS cohort_week,
         |    (us - first_us) // $WeekUs AS week_offset
         |  FROM e JOIN f USING (user_id))
         |SELECT cohort_week, week_offset, count(*) AS n_users
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_event_anomaly" ->
      s"""WITH st AS (SELECT event_type,
         |    ${Q.sqlDavg("value")} AS mu,
         |    ${Q.sqlDstd("value")} AS sigma
         |  FROM events GROUP BY event_type)
         |SELECT e.event_id, e.event_type, e.value, st.mu, st.sigma,
         |  (e.value - st.mu) / st.sigma AS z
         |FROM events e JOIN st USING (event_type)
         |WHERE abs((e.value - st.mu) / st.sigma) > 3.0
         |ORDER BY e.event_id""".stripMargin,
    "q_sessionize" ->
      s"""WITH e AS ($evSql),
         |g AS (SELECT user_id, event_id, ts, value,
         |    epoch_us(ts) AS us,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_us
         |  FROM e),
         |m AS (SELECT *, CASE WHEN prev_us IS NULL
         |      OR us - prev_us > $SessionGapUs THEN 1 ELSE 0 END AS is_new
         |  FROM g),
         |sess AS (SELECT *,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM m)
         |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |  count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end,
         |  ${Q.sqlDsum("value")} AS sum_value
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,
    // The oracle brute-forces the same answer with a theta join — the
    // bucketed equi-join is provably equivalent (a click in the probe
    // window always lands in one of the two probed buckets).
    "q_range_join" ->
      s"""WITH e AS ($evSql),
         |err AS (SELECT event_id, user_id, ts FROM e
         |  WHERE event_type = 'error'),
         |clk AS (SELECT user_id, ts, value FROM e
         |  WHERE event_type = 'click'),
         |j AS (SELECT err.event_id,
         |    count(clk.user_id) AS n_clicks,
         |    ${Q.sqlDsum("clk.value")} AS click_value
         |  FROM err LEFT JOIN clk ON clk.user_id = err.user_id
         |    AND clk.ts <= err.ts
         |    AND clk.ts >= err.ts - INTERVAL 10 MINUTE
         |  GROUP BY err.event_id)
         |SELECT err.event_id, err.user_id, err.ts,
         |  j.n_clicks, COALESCE(j.click_value, 0.0) AS click_value
         |FROM err JOIN j ON err.event_id = j.event_id
         |ORDER BY err.event_id""".stripMargin,
    "q_window_range" ->
      s"""WITH e AS ($evSql)
         |SELECT user_id, event_id, ts, value,
         |  count(*) OVER w AS n_10m,
         |  CAST(sum(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE) AS sum_10m
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN $RangeWinUs PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_window_rank_full" ->
      s"""WITH e AS ($evSql)
         |SELECT user_id, event_id,
         |  CAST(rank() OVER w AS INTEGER) AS rnk,
         |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         |  percent_rank() OVER w AS prank,
         |  cume_dist() OVER w AS cdist,
         |  first_value(value) OVER wf AS first_value,
         |  last_value(value) OVER wf AS last_value
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, rnk""".stripMargin,
    "q_asof_join" ->
      s"""WITH tr AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS click_value FROM events WHERE event_type = 'click'),
         |qt AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS view_value FROM events WHERE event_type = 'view')
         |SELECT tr.event_id, tr.user_id, tr.ts, tr.click_value,
         |  qt.view_value, qt.ts AS view_ts
         |FROM tr ASOF LEFT JOIN qt
         |  ON tr.user_id = qt.user_id AND qt.ts <= tr.ts
         |ORDER BY event_id""".stripMargin,
    "q_asof_forward" ->
      s"""WITH tr AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS click_value FROM events WHERE event_type = 'click'),
         |qt AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS view_value FROM events WHERE event_type = 'view')
         |SELECT tr.event_id, tr.user_id, tr.ts, tr.click_value,
         |  qt.view_value, qt.ts AS view_ts
         |FROM tr ASOF LEFT JOIN qt
         |  ON tr.user_id = qt.user_id AND qt.ts >= tr.ts
         |ORDER BY event_id""".stripMargin,
    "q_asof_strict" ->
      s"""WITH tr AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS click_value FROM events WHERE event_type = 'click'),
         |qt AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS view_value FROM events WHERE event_type = 'view')
         |SELECT tr.event_id, tr.user_id, tr.ts, tr.click_value,
         |  qt.view_value, qt.ts AS view_ts
         |FROM tr ASOF LEFT JOIN qt
         |  ON tr.user_id = qt.user_id AND qt.ts < tr.ts
         |ORDER BY event_id""".stripMargin,
    "q_asof_nearest" ->
      s"""WITH tr AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS click_value FROM events WHERE event_type = 'click'),
         |qt AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS view_value FROM events WHERE event_type = 'view'),
         |b AS (SELECT tr.event_id, tr.user_id, tr.ts, tr.click_value,
         |    qt.view_value AS bv, qt.ts AS bts
         |  FROM tr ASOF LEFT JOIN qt
         |    ON tr.user_id = qt.user_id AND qt.ts <= tr.ts),
         |f AS (SELECT tr.event_id, qt.view_value AS fv, qt.ts AS fts
         |  FROM tr ASOF LEFT JOIN qt
         |    ON tr.user_id = qt.user_id AND qt.ts >= tr.ts)
         |SELECT b.event_id, b.user_id, b.ts, b.click_value,
         |  CASE WHEN b.bts IS NULL THEN f.fv
         |    WHEN f.fts IS NULL THEN b.bv
         |    WHEN epoch_us(b.ts) - epoch_us(b.bts)
         |      <= epoch_us(f.fts) - epoch_us(b.ts) THEN b.bv
         |    ELSE f.fv END AS view_value,
         |  CASE WHEN b.bts IS NULL THEN f.fts
         |    WHEN f.fts IS NULL THEN b.bts
         |    WHEN epoch_us(b.ts) - epoch_us(b.bts)
         |      <= epoch_us(f.fts) - epoch_us(b.ts) THEN b.bts
         |    ELSE f.fts END AS view_ts
         |FROM b JOIN f USING (event_id)
         |ORDER BY event_id""".stripMargin,
    // Tolerance = post-predicate on the native ASOF match: a stale
    // match degrades to NULL payload (not to the next-older match,
    // which by ASOF minimality would be staler still) — identical to
    // the engine's bounded-staleness rule.
    "q_asof_tolerance" ->
      s"""WITH tr AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS click_value FROM events WHERE event_type = 'click'),
         |qt AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         |    value AS view_value FROM events WHERE event_type = 'view')
         |SELECT tr.event_id, tr.user_id, tr.ts, tr.click_value,
         |  CASE WHEN epoch_us(tr.ts) - epoch_us(qt.ts) <= ${30L * 60L * 1000000L}
         |    THEN qt.view_value END AS view_value,
         |  CASE WHEN epoch_us(tr.ts) - epoch_us(qt.ts) <= ${30L * 60L * 1000000L}
         |    THEN qt.ts END AS view_ts
         |FROM tr ASOF LEFT JOIN qt
         |  ON tr.user_id = qt.user_id AND qt.ts <= tr.ts
         |ORDER BY event_id""".stripMargin,
    "q_json_extract" ->
      s"""SELECT event_type, count(*) AS n,
         |  min(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS min_k,
         |  max(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k,
         |  ${Q.sqlDsum("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS sum_k
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_event_paths" ->
      s"""WITH t AS (
         |  SELECT user_id, event_type AS e1,
         |    lead(event_type, 1) OVER w AS e2,
         |    lead(event_type, 2) OVER w AS e3
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT e1, e2, e3, count(*) AS n_occ,
         |  count(DISTINCT user_id) AS n_users
         |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         |GROUP BY e1, e2, e3
         |ORDER BY n_occ DESC, e1, e2, e3
         |LIMIT $PathTopK""".stripMargin,
    "q_event_funnel" ->
      """WITH fv AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'click' AND e.ts > fv.t_view
        |  GROUP BY e.user_id),
        |fp AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fc.t_click
        |  GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'view' AS step_name,
        |    (SELECT count(*) FROM fv) AS n_users
        |  UNION ALL SELECT 2, 'click_after_view', (SELECT count(*) FROM fc)
        |  UNION ALL SELECT 3, 'purchase_after_click', (SELECT count(*) FROM fp))
        |ORDER BY step""".stripMargin,
    "q_window_rank" ->
      s"""WITH e AS ($evSql)
         |SELECT user_id, event_id, ts, value,
         |  CAST(row_number() OVER w AS INTEGER) AS rn,
         |  lag(value, 1) OVER w AS prev_value,
         |  lead(value, 1) OVER w AS next_value,
         |  CAST(sum(CAST(value AS DECIMAL(28,4))) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS running_sum
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, rn""".stripMargin,
    "q_window_moving" ->
      s"""WITH e AS ($evSql)
         |SELECT user_id, event_id, ts, value,
         |  CAST(sum(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE)
         |    / count(*) OVER w AS mov_avg3
         |FROM e
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, ts, event_id""".stripMargin,
    "q_window_tumbling" ->
      s"""WITH e AS ($evSql)
         |SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         |  count(*) AS n, ${Q.sqlDsum("value")} AS sum_value
         |FROM e GROUP BY bucket, event_type
         |ORDER BY bucket, event_type""".stripMargin,
    "q_window_sliding" ->
      s"""WITH e AS ($evSql)
         |SELECT bucket, count(*) AS n, ${Q.sqlDsum("value")} AS sum_value
         |FROM (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, value FROM e
         |  UNION ALL
         |  SELECT time_bucket(INTERVAL '1 hour', ts,
         |    INTERVAL '30 minutes') AS bucket, value FROM e)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_events_resample" ->
      s"""WITH e AS ($evSql),
         |hourly AS (SELECT user_id, date_trunc('hour', ts) AS h,
         |    CAST(sum(CAST(value AS DECIMAL(28,4))) AS DOUBLE) / count(value) AS avg_value
         |  FROM e GROUP BY 1, 2),
         |spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         |  FROM spans),
         |f AS (SELECT g.user_id, g.h, hy.avg_value,
         |    last_value(hy.avg_value IGNORE NULLS) OVER (
         |      PARTITION BY g.user_id ORDER BY g.h
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
         |  FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h)
         |SELECT user_id, h, avg_value, value_ffill FROM f
         |ORDER BY user_id, h""".stripMargin)
}
