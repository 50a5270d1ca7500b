package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pandas-API breadth beyond the reference's subset (SURVEY.md §2.9
  * extension, same spirit as [[SetOps]]): the everyday DataFrame verbs a
  * pandas user reaches for that baloo never implemented —
  * `value_counts`, `describe`, `nlargest`, cumulative ops, `clip`,
  * `duplicated`, `nunique`, `idxmax`/`idxmin`, `cut`/`qcut`,
  * `get_dummies`, `crosstab`, `pct_change`, outer `concat`, and
  * `rank(pct=True)` — each declared as the Catalyst plan that survives
  * 100 TB (hash aggregates with map-side partials, windows only over
  * keyed partitions or bounded value histograms, never a global
  * single-partition row sort).
  */
object PandasExt extends QueryModule {

  /** `Series.value_counts()` — counts descending, value ascending on
    * ties. One hash aggregate (map-side partials) + a 5-row sort.
    */
  def qValueCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("lang").asc)

  /** One leg of `describe()` for a BOUNDED-DOMAIN numeric column:
    * count/mean/std/min/max in one hash aggregate pass, and the exact
    * p25/p50/p75 selected from the VALUE HISTOGRAM by the integer rank
    * test (the [[CorpusQuality.qLengthQuantiles]] discipline — the
    * multiplied-through `cum·100 ≥ n·p` comparison picks the identical
    * element on any engine, no float interpolation). The cumulative
    * window runs over the histogram, ≤51 rows for l_quantity and 11 for
    * l_discount — bounded by the value domain, NOT the corpus — so the
    * single-partition window is over a dimension-sized frame at any
    * scale.
    */
  private def descLeg(li: DataFrame, c: String, p: String): DataFrame = {
    val agg = li.agg(
      count(col(c)).cast("double").as(s"${p}_count"),
      Q.davg(col(c)).as(s"${p}_mean"),
      Q.dstd(col(c)).as(s"${p}_std"),
      min(col(c)).as(s"${p}_min"),
      max(col(c)).as(s"${p}_max"))
    val hist = li.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum("cnt").over(Window.orderBy("v")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
    val pct = cum.agg(
      min(when(col("cum") * 100 >= col("n") * 25, col("v"))).as(s"${p}_p25"),
      min(when(col("cum") * 100 >= col("n") * 50, col("v"))).as(s"${p}_p50"),
      min(when(col("cum") * 100 >= col("n") * 75, col("v"))).as(s"${p}_p75"))
    agg.crossJoin(pct)
  }

  /** `df.describe()` over (l_quantity, l_discount): 8 stat rows × 2
    * measure columns, assembled by one `stack` Expand over the crossed
    * 1-row stat legs (all broadcasts of scalars — no data movement).
    */
  def qDescribe(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val one = descLeg(li, "l_quantity", "q")
      .crossJoin(descLeg(li, "l_discount", "d"))
    one.selectExpr(
      """stack(8,
        |  0, 'count', q_count, d_count,
        |  1, 'mean',  q_mean,  d_mean,
        |  2, 'std',   q_std,   d_std,
        |  3, 'min',   q_min,   d_min,
        |  4, '25%',   q_p25,   d_p25,
        |  5, '50%',   q_p50,   d_p50,
        |  6, '75%',   q_p75,   d_p75,
        |  7, 'max',   q_max,   d_max
        |) AS (ord, stat, quantity, discount)""".stripMargin)
      .orderBy("ord")
  }

  /** `nlargest(15, o_totalprice)` — plans as TakeOrderedAndProject:
    * per-partition top-15 heaps, 15-row merge at the driver; never a
    * global sort.
    */
  def qNlargest(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(15)

  /** `cumsum`/`cummax`/`cummin` per customer in order-key order — the
    * pandas cumulative family done the way it scales: the window is
    * PARTITIONED on the group key (one keyed exchange, each customer's
    * short history sorted within its partition), never a global
    * unpartitioned running total. The running sum is carried in exact
    * decimal so left-to-right accumulation is order-independent and
    * bit-identical across engines.
    */
  def qCumOps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("run_sum",
        sum(col("o_totalprice").cast("decimal(28,4)")).over(w).cast("double"))
      .withColumn("run_max", max("o_totalprice").over(w))
      .withColumn("run_min", min("o_totalprice").over(w))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** `Series.clip(5000, 50000)` + the aggregate evidence per return
    * flag: clipped exact-decimal sum and how many rows hit each bound.
    * The clip itself is two codegen'd `least`/`greatest` calls inside
    * the scan projection — map-only.
    */
  def qClip(s: SparkSession, dir: String): DataFrame = {
    val p = col("l_extendedprice")
    val clipped = greatest(least(p, lit(50000.0)), lit(5000.0))
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        Q.dsum(clipped).as("sum_clipped"),
        sum(when(p < 5000.0, 1L).otherwise(0L)).as("n_lo"),
        sum(when(p > 50000.0, 1L).otherwise(0L)).as("n_hi"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** `duplicated(subset=[l_partkey, l_suppkey], keep=False)` — flag
    * every row whose key occurs more than once. Computed as a key-count
    * hash aggregate joined back on the key (both sides shuffle on the
    * SAME key — one partitioning, and AQE broadcasts the count side
    * when it is small), instead of a `count(*) OVER (PARTITION BY …)`
    * window that would add a per-partition sort for a sort-free
    * semantics.
    */
  def qDuplicated(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
    val cnts = li.groupBy("l_partkey", "l_suppkey").agg(count(lit(1)).as("kc"))
    li.join(cnts, Seq("l_partkey", "l_suppkey"))
      .select(col("l_partkey"), col("l_suppkey"), (col("kc") > 1L).as("is_dup"))
      .orderBy("l_partkey", "l_suppkey")
  }

  /** `groupby(source).nunique()` — distinct-count per group for two
    * columns plus the group size. Two `count(distinct …)` in one agg
    * plan one Expand (3× the rows, map-side partial-deduped); the
    * documented at-scale alternative when exactness can be traded is
    * `approx_count_distinct` (HLL, no Expand).
    */
  def qNunique(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .agg(
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("n_chars")).as("n_lengths"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** `idxmax`/`idxmin` per language — the row LABEL at the extremum,
    * ties to the smallest doc_id (pandas takes the first label in row
    * order; with doc_id as the order that is the min id). One hash
    * aggregate of lexicographic struct min/max — map-side partials,
    * no per-group sort, no join back.
    */
  def qIdxmax(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(
        max(struct(col("n_chars").as("v"), (-col("doc_id")).as("nid"))).as("mx"),
        min(struct(col("n_chars").as("v"), col("doc_id").as("id"))).as("mn"))
      .select(
        col("lang"),
        col("mx.v").as("max_chars"), (-col("mx.nid")).as("idxmax"),
        col("mn.v").as("min_chars"), col("mn.id").as("idxmin"))
      .orderBy("lang")

  /** `pd.cut` — fixed-width binning of c_acctbal into 8 buckets over
    * [-1000, 10000): the bin id is pure row-local arithmetic (codegen'd
    * floor/clamp in the scan projection), then one hash aggregate for
    * the per-bin profile.
    */
  def qCutBins(s: SparkSession, dir: String): DataFrame = {
    val bin = least(lit(7), greatest(lit(0),
      floor((col("c_acctbal") + 1000.0) / 1375.0))).cast("int")
    Tables.customer(s, dir)
      .select(bin.as("bin"), col("c_acctbal"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_cust"),
        Q.dsum(col("c_acctbal")).as("bal_sum"),
        min("c_acctbal").as("bal_min"),
        max("c_acctbal").as("bal_max"))
      .orderBy("bin")
  }

  /** `pd.qcut(p_size, 4)` — quantile binning via the value histogram:
    * one hash aggregate to (value, count), a cumulative window over the
    * ≤50-row histogram (bounded by the p_size domain, not the table),
    * and the bucket of a value = `(rows strictly below · 4) div n`
    * clamped to 3 — all integer arithmetic, so every engine buckets the
    * identical way and equal values always share a bucket (the qcut
    * contract). Per-bucket profile aggregated straight off the
    * histogram — the parts table is scanned exactly once.
    */
  def qQcutBins(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.part(s, dir)
      .groupBy(col("p_size").as("v")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum("cnt").over(Window.orderBy("v")))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
      .withColumn("bucket",
        least(lit(3L), expr("(cum - cnt) * 4 div n")).cast("int"))
    cum.groupBy("bucket")
      .agg(
        sum("cnt").as("n_parts"),
        min("v").as("size_min"),
        max("v").as("size_max"))
      .orderBy("bucket")
  }

  /** `pd.get_dummies(n_regionkey)` — one-hot indicator columns over the
    * 5-region domain: five codegen'd CASE projections, map-only, output
    * row-per-nation.
    */
  def qGetDummies(s: SparkSession, dir: String): DataFrame = {
    val dummies = (0 to 4).map(r =>
      when(col("n_regionkey") === r, 1).otherwise(0).cast("int").as(s"reg_$r"))
    Tables.nation(s, dir)
      .select(col("n_nationkey") +: col("n_name") +: dummies: _*)
      .orderBy("n_nationkey")
  }

  /** `pd.crosstab(source, lang, margins=True)` — contingency counts as
    * ONE pivot hash aggregate over the fixed lang domain plus a row
    * total; never a per-cell query loop.
    */
  def qCrosstab(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val piv = Tables.documents(s, dir)
      .groupBy("source").pivot("lang", langs).agg(count(lit(1)))
    val filled = langs.foldLeft(piv)((df, l) =>
      df.withColumn(l, coalesce(col(l), lit(0L))))
    filled
      .withColumn("total", langs.map(col).reduce(_ + _))
      .orderBy("source")
  }

  /** `pct_change` of event value per user in time order — `lag` over
    * the user-keyed window (one keyed exchange; every user's history is
    * short relative to the corpus). Division guarded by `nullif` so a
    * zero previous value yields NULL on every engine rather than an
    * engine-specific infinity.
    */
  def qPctChange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("value"))
      .withColumn("prev", lag("value", 1).over(w))
      .select(
        col("user_id"), col("event_id"), col("value"),
        ((col("value") - col("prev")) / nullif(col("prev"), lit(0.0))).as("pct"))
      .orderBy("event_id")
  }

  /** `pd.concat([customers, suppliers], axis=0, join='outer')` —
    * row-wise outer concatenation of frames with different column sets:
    * `unionByName(allowMissingColumns)` null-pads each side, plans as
    * one Union of two scans (map-only, no shuffle before the final
    * order).
    */
  /** pandas `merge(how='outer', indicator=True)` — the reconciliation
    * verb: which keys live in the activity stream only, the CRM table
    * only, or both, with each side's payload carried along. Full outer
    * join on the key (AQE broadcasts the smaller build side; at equal
    * scale it is the plain shuffled equi-join) and the `_merge`
    * category derived from side-null-ness — `left_only` keys are the
    * unregistered actors, `right_only` the dormant accounts, exactly
    * pandas' indicator semantics.
    */
  def qMergeIndicator(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("n_events"))
    // the CRM covers only part of the key space (key % 3 ≠ 0) so all
    // three indicator categories are non-empty on the test corpus
    val crm = Tables.customer(s, dir)
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("acctbal"))
    act.join(crm, Seq("key"), "outer")
      .withColumn("_merge",
        when(col("n_events").isNotNull && col("acctbal").isNotNull, "both")
          .when(col("n_events").isNotNull, "left_only")
          .otherwise("right_only"))
      .select("key", "n_events", "acctbal", "_merge")
      .orderBy("key")
  }

  /** pandas `df1.combine_first(df2)` — index-aligned null patching:
    * df1's holes are filled from df2, df1's non-nulls win, and keys
    * present in only one frame survive with the other frame's columns
    * null. Spelled as the full outer join + per-column `coalesce` that
    * IS the verb's relational meaning — map-only after one key-
    * partitioned join at any scale. Fixture frames derive from
    * `customer` deterministically: df1 nulls out negative balances and
    * covers all keys; df2 (even keys only) carries the raw balance and
    * a fallback segment.
    */
  def qCombineFirst(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
    val df1 = base.select(col("c_custkey").as("key"),
      when(col("c_acctbal") >= 0, col("c_acctbal")).as("bal"),
      col("c_mktsegment").as("segment"))
    val df2 = base.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"),
        lit("FALLBACK").as("segment"))
    df1.as("a").join(df2.as("b"), Seq("key"), "outer")
      .select(col("key"),
        coalesce(col("a.bal"), col("b.bal")).as("bal"),
        coalesce(col("a.segment"), col("b.segment")).as("segment"))
      .orderBy("key")
  }

  def qConcatOuter(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(
      lit("cust").as("origin"), col("c_custkey").as("rid"),
      col("c_acctbal").as("bal"), col("c_mktsegment").as("segment"))
    val supp = Tables.supplier(s, dir).select(
      lit("supp").as("origin"), col("s_suppkey").as("rid"),
      col("s_acctbal").as("bal"), col("s_nationkey").cast("int").as("nationkey"))
    cust.unionByName(supp, allowMissingColumns = true)
      .orderBy("origin", "rid")
  }

  /** `rank(method='dense')` + `rank(pct=True)` per market segment —
    * both windows share ONE segment-keyed exchange and sort; ranks
    * depend only on the value so ties are engine-independent, and
    * `percent_rank`'s `(rank−1)/(n−1)` is the same double arithmetic
    * everywhere.
    */
  def qRankPct(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("drank", dense_rank().over(w))
      .withColumn("prank", percent_rank().over(w))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** The orders prefix-scan artifact: inclusive running sum (exact
    * decimal), running position, running max/min under the order-key
    * total order — ONE two-phase scan ([[graft.operators.Scan]]),
    * materialized once per corpus ([[graft.Caches.memo]]) and shared by
    * the cumulative and rolling queries below. The production analog is
    * a written table: a 100 TB pipeline computes prefix aggregates once
    * and every consumer reads the artifact, not the scan.
    */
  private def prefixBase(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "orders_prefix") {
      graft.operators.Scan.runningAggs(
        Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey")),
        Seq(
          (col("o_totalprice").cast("decimal(28,4)"), "sum", "__psum"),
          (lit(1L), "sum", "__rn"),
          (col("o_totalprice"), "max", "__rmax"),
          (col("o_totalprice"), "min", "__rmin"),
          // exact-cents first and second moments for rolling variance:
          // y fits long over any window; y² accumulates in DECIMAL(28,0)
          // (scale 0 ⇒ both engines SINGLE-round the same exact integer
          // at the one double conversion — the Q.dvar 2^53 caveat is a
          // scaled-decimal hazard and does not apply)
          (expr("CAST(round(o_totalprice * 100) AS BIGINT)"), "sum", "__psc"),
          (expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) " +
            "* CAST(round(o_totalprice * 100) AS BIGINT) AS DECIMAL(28,0))"),
            "sum", "__ps2")))
    }

  override def prewarm(s: SparkSession, dir: String): Unit = {
    prefixBase(s, dir).count(); ()
  }

  /** GLOBAL cumulative sum/max/min over the whole orders table in
    * order-key order — the case pandas `cumsum` actually means, and the
    * one Spark's window cannot do without collapsing to a single
    * partition. A map-only read of the shared prefix artifact; the
    * running sum was carried in exact decimal (layout-independent,
    * bit-identical to the oracle's sequential accumulation).
    */
  def qCumsumGlobal(s: SparkSession, dir: String): DataFrame =
    prefixBase(s, dir)
      .select(
        col("o_orderkey"), col("o_totalprice"),
        col("__psum").cast("double").as("run_sum"),
        col("__rmax").as("run_max"),
        col("__rmin").as("run_min"))
      .orderBy("o_orderkey")

  /** pandas `Series.ewm(alpha=0.5, adjust=True).mean()`, truncated at
    * [[EwmK]] lags — per-user over the event stream order (ts,
    * event_id). Exactness discipline: with α = 1/2 the adjust-mode
    * weights (1−α)^k are dyadic, so after scaling values to integer
    * cents (`round(value·100)` — the generator's values are 2-decimal)
    * the numerator Σ 2^(K−1−k)·cents_{i−k} and the denominator
    * 100·Σ 2^(K−1−k) are exact BIGINTs on any engine, and the single
    * double division at the end is bit-identical. The truncation (the
    * untruncated recursion's tail weight 2^−K ≈ 1.5e−5 of the oldest
    * history) is part of the operator's contract — an UNtruncated ewm
    * is a sequential float recursion whose rounding depends on
    * association order and can never hash-match across engines.
    * Scale shape: one window KEYED BY USER (16 lag reads, no global
    * order), then the map-only arithmetic — partitioned by user at any
    * corpus size.
    */
  def qEwm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_ns"), col("value"))
      .withColumn("__c", round(col("value") * 100).cast("long"))
    val num = (0 until EwmK).map(k =>
      coalesce(lag(col("__c"), k).over(w) * lit(1L << (EwmK - 1 - k)), lit(0L)))
      .reduce(_ + _)
    val den = (0 until EwmK).map(k =>
      when(lag(col("__c"), k).over(w).isNotNull,
        lit(1L << (EwmK - 1 - k))).otherwise(lit(0L)))
      .reduce(_ + _)
    ev.withColumn("ewm", num.cast("double") / (den * lit(100L)).cast("double"))
      .select("event_id", "user_id", "value", "ewm")
      .orderBy("event_id")
  }

  private val EwmK = 16

  /** pandas `rolling(7).corr()` — per-user rolling Pearson correlation
    * of each event's value with the PREVIOUS event's value (lag-1
    * autocorrelation, the "is this actor's behavior trending" gauge),
    * full 7 observations required (min_periods = window). Exactness:
    * x and y are integer cents, so every windowed sum (Σx, Σy, Σxy,
    * Σx², Σy²) is an exact BIGINT (|Σxy| ≤ 7·10¹⁰ ≪ 2⁶³); the five
    * exact integers convert to double losslessly (< 2⁵³) and the final
    * expression — including the IEEE correctly-rounded sqrt — is then
    * bit-identical on any engine. Zero variance in either leg →
    * NULL via nullif, not an engine-specific NaN/∞. Shape: one
    * user-keyed window (7-row frame), map-only arithmetic after.
    */
  def qRollingCorr(s: SparkSession, dir: String): DataFrame = {
    val n = 7
    val ord = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts_ns"), col("value"))
      .withColumn("x", round(col("value") * 100).cast("long"))
      .withColumn("y", lag(col("x"), 1).over(ord))
      .filter(col("y").isNotNull)
    // frames rank AFTER the lag filter so each holds 7 usable pairs;
    // all six aggregates in ONE projection → a single Window node
    // (withColumn chaining would stack six sequential Window operators)
    val frame2 = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      .rowsBetween(-(n - 1), Window.currentRow)
    val withSums = ev.select(
        col("event_id"), col("user_id"), col("value"),
        count(lit(1)).over(frame2).as("k"),
        sum(col("x")).over(frame2).as("sx"),
        sum(col("y")).over(frame2).as("sy"),
        sum(col("x") * col("y")).over(frame2).as("sxy"),
        sum(col("x") * col("x")).over(frame2).as("sxx"),
        sum(col("y") * col("y")).over(frame2).as("syy"))
      .filter(col("k") === n)
    val nn = lit(n.toLong)
    val num = (nn * col("sxy") - col("sx") * col("sy")).cast("double")
    val dvx = (nn * col("sxx") - col("sx") * col("sx")).cast("double")
    val dvy = (nn * col("syy") - col("sy") * col("sy")).cast("double")
    withSums
      .withColumn("corr", num / nullif(sqrt(dvx) * sqrt(dvy), lit(0.0)))
      .select("event_id", "user_id", "value", "corr")
      .orderBy("event_id")
  }

  /** `shift`/`diff`/`pct_change` — positional lag under the GLOBAL
    * index order, spelled as ordinal + equi self-join on `ord − 1`
    * ([[graft.operators.Scan.shiftJoin]]; no global-order window). All
    * three outputs derive from the SAME lagged value, so the fused plan
    * is ONE ordinal build and ONE donor join; the per-verb Series API
    * (`shift`/`diff`/`pctChange`) builds the same shape once per verb,
    * and GlobalOrderSpec pins both to the same values.
    */
  def qShiftDiff(s: SparkSession, dir: String): DataFrame = {
    val ord = graft.operators.Ordinal.withOrdinal(
      Tables.orders(s, dir).select("o_orderkey", "o_totalprice"),
      Seq(col("o_orderkey")), "__ord")
    graft.operators.Scan.shiftJoin(ord, ord, "__ord", 1, col("o_totalprice").as("__prev"))
      .select(
        col("o_orderkey"), col("o_totalprice"),
        col("__prev").as("shifted"),
        (col("o_totalprice") - col("__prev")).as("diffed"),
        ((col("o_totalprice") - col("__prev"))
          / nullif(col("__prev"), lit(0.0))).as("pct"))
      .orderBy("o_orderkey")
  }

  /** Rolling 7-row sum/mean/min/max over the GLOBAL order-key order —
    * pandas `rolling(7)` (min_periods full), distributed: ONE two-phase
    * scan yields the inclusive prefix sum AND the running position;
    * rolling_sum = prefix difference (exact decimal, an equi self-join
    * on position − n, no global window, cost independent of n);
    * min/max by the BLOCK DECOMPOSITION over the position
    * ([[graft.operators.Scan.blockExtremes]], the
    * [[graft.core.BalooRolling]] spelling): two block-KEYED window scans
    * and one more equi join on the position — zero replication (round 6
    * donated each row n-fold through `explode(sequence)`). All joins are
    * on the position — hash-partitionable at any scale.
    */
  def qRollingGlobal(s: SparkSession, dir: String): DataFrame = {
    val n = 7
    // every leg reads the SAME cached artifact — without the memo each
    // DataFrame reference would re-run the whole two-phase scan
    val base = prefixBase(s, dir)
    val price = col("o_totalprice")
    graft.operators.Scan
      .blockExtremes(base, "__rn", 1, n, Seq((price, "min", "mn"), (price, "max", "mx")),
        before = graft.operators.Scan.shiftJoin(_, base, "__rn", n,
          col("__psum").as("__plag")))
      .select(
        col("o_orderkey"), col("o_totalprice"),
        when(col("__rn") >= n,
          (col("__psum") - coalesce(col("__plag"), lit(0))).cast("double"))
          .as("roll_sum"),
        when(col("__rn") >= n,
          (col("__psum") - coalesce(col("__plag"), lit(0))).cast("double") / lit(n))
          .as("roll_mean"),
        when(col("__rn") >= n, col("mn")).as("roll_min"),
        when(col("__rn") >= n, col("mx")).as("roll_max"))
      .orderBy("o_orderkey")
  }

  /** Rolling 7-row sample variance/std over the GLOBAL order — pandas
    * `rolling(7).std()`, distributed by the same prefix-difference
    * trick as [[qRollingGlobal]]: window moments come from TWO prefix
    * differences of the shared artifact (Σy and Σy² in exact cents /
    * cents², the latter carried in DECIMAL(28,0)), the variance
    * numerator n·Σy² − (Σy)² is exact integer arithmetic (the float
    * cancellation hazard of running-moment rolling variance is gone by
    * construction), and the single double conversion single-rounds the
    * same exact integer on both engines. One lag-donor equi join on
    * the running position — no global window, cost independent of n.
    */
  def qRollingStd(s: SparkSession, dir: String): DataFrame = {
    val n = 7
    val base = prefixBase(s, dir)
    graft.operators.Scan
      .shiftJoin(base, base, "__rn", n, col("__psc").as("__clag"), col("__ps2").as("__s2lag"))
      .withColumn("__s1", col("__psc") - coalesce(col("__clag"), lit(0L)))
      .withColumn("__s2", col("__ps2") - coalesce(col("__s2lag"), expr("CAST(0 AS DECIMAL(28,0))")))
      // the exact integer variance numerator n·Σy² − (Σy)² (cents²);
      // published as-is — rounding its 1e10-magnitude double quotient
      // at 1e-4 is NOT cross-engine-safe (BigDecimal HALF_UP vs libc
      // rounding diverge in the last decimal once |v|·10⁴ nears 2^53),
      // while the std's ~1e5 magnitude is squarely inside the r4 grain
      .withColumn("__vnum",
        (col("__s2") * n - col("__s1").cast("decimal(28,0)") * col("__s1")))
      .select(
        col("o_orderkey"), col("o_totalprice"),
        when(col("__rn") >= n,
          round(sqrt(col("__vnum").cast("double") / lit(n.toDouble * (n - 1))) / 100.0, 4))
          .as("roll_std"),
        when(col("__rn") >= n, col("__vnum").cast("long")).as("var_num"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_rolling_global" -> (qRollingGlobal(_, _)),
    "q_rolling_std" -> (qRollingStd(_, _)),
    "q_cumsum_global" -> (qCumsumGlobal(_, _)),
    "q_shift_diff" -> (qShiftDiff(_, _)),
    "q_value_counts" -> (qValueCounts(_, _)),
    "q_describe" -> (qDescribe(_, _)),
    "q_nlargest" -> (qNlargest(_, _)),
    "q_cum_ops" -> (qCumOps(_, _)),
    "q_clip" -> (qClip(_, _)),
    "q_duplicated" -> (qDuplicated(_, _)),
    "q_nunique" -> (qNunique(_, _)),
    "q_idxmax" -> (qIdxmax(_, _)),
    "q_cut_bins" -> (qCutBins(_, _)),
    "q_qcut_bins" -> (qQcutBins(_, _)),
    "q_get_dummies" -> (qGetDummies(_, _)),
    "q_crosstab" -> (qCrosstab(_, _)),
    "q_pct_change" -> (qPctChange(_, _)),
    "q_ewm" -> (qEwm(_, _)),
    "q_merge_indicator" -> (qMergeIndicator(_, _)),
    "q_rolling_corr" -> (qRollingCorr(_, _)),
    "q_combine_first" -> (qCombineFirst(_, _)),
    "q_concat_outer" -> (qConcatOuter(_, _)),
    "q_rank_pct" -> (qRankPct(_, _)))

  private def sqlDescLeg(c: String, p: String): String =
    s"""${p}a AS (SELECT CAST(count($c) AS DOUBLE) AS ${p}_count,
       |  ${Q.sqlDavg(c)} AS ${p}_mean, ${Q.sqlDstd(c)} AS ${p}_std,
       |  min($c) AS ${p}_min, max($c) AS ${p}_max FROM lineitem),
       |${p}h AS (SELECT $c AS v, count(*) AS cnt FROM lineitem GROUP BY 1),
       |${p}c AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
       |  CAST(sum(cnt) OVER () AS BIGINT) AS n FROM ${p}h),
       |${p}p AS (SELECT
       |  min(CASE WHEN cum * 100 >= n * 25 THEN v END) AS ${p}_p25,
       |  min(CASE WHEN cum * 100 >= n * 50 THEN v END) AS ${p}_p50,
       |  min(CASE WHEN cum * 100 >= n * 75 THEN v END) AS ${p}_p75 FROM ${p}c)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_rolling_global" ->
      """WITH b AS (SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn,
        |    sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS s,
        |    min(o_totalprice) OVER w AS mn,
        |    max(o_totalprice) OVER w AS mx
        |  FROM orders
        |  WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN rn >= 7 THEN CAST(s AS DOUBLE) END AS roll_sum,
        |  CASE WHEN rn >= 7 THEN CAST(s AS DOUBLE) / 7 END AS roll_mean,
        |  CASE WHEN rn >= 7 THEN mn END AS roll_min,
        |  CASE WHEN rn >= 7 THEN mx END AS roll_max
        |FROM b ORDER BY o_orderkey""".stripMargin,
    "q_rolling_std" ->
      """WITH y AS (SELECT o_orderkey, o_totalprice,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS yc FROM orders),
        |b AS (SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) AS rn,
        |    sum(yc) OVER w AS s1,
        |    sum(yc * yc) OVER w AS s2
        |  FROM y
        |  WINDOW w AS (ORDER BY o_orderkey ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN rn >= 7
        |    THEN round(sqrt(CAST(s2 * 7 - s1 * s1 AS DOUBLE) / 42.0) / 100.0, 4)
        |  END AS roll_std,
        |  CASE WHEN rn >= 7
        |    THEN CAST(s2 * 7 - s1 * s1 AS BIGINT)
        |  END AS var_num
        |FROM b ORDER BY o_orderkey""".stripMargin,
    "q_cumsum_global" ->
      """SELECT o_orderkey, o_totalprice,
        |  max(o_totalprice) OVER w AS run_max,
        |  min(o_totalprice) OVER w AS run_min,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE) AS run_sum
        |FROM orders
        |WINDOW w AS (ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_shift_diff" ->
      """SELECT o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER w AS shifted,
        |  o_totalprice - lag(o_totalprice) OVER w AS diffed,
        |  (o_totalprice - lag(o_totalprice) OVER w)
        |    / nullif(lag(o_totalprice) OVER w, 0.0) AS pct
        |FROM orders WINDOW w AS (ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_value_counts" ->
      """SELECT lang, count(*) AS cnt FROM documents
        |GROUP BY lang ORDER BY cnt DESC, lang ASC""".stripMargin,
    "q_describe" ->
      s"""WITH ${sqlDescLeg("l_quantity", "q")},
         |${sqlDescLeg("l_discount", "d")},
         |one AS (SELECT * FROM qa, qp, da, dp)
         |SELECT * FROM (
         |  SELECT 0 AS ord, 'count' AS stat, q_count AS quantity, d_count AS discount FROM one
         |  UNION ALL SELECT 1, 'mean', q_mean, d_mean FROM one
         |  UNION ALL SELECT 2, 'std', q_std, d_std FROM one
         |  UNION ALL SELECT 3, 'min', q_min, d_min FROM one
         |  UNION ALL SELECT 4, '25%', q_p25, d_p25 FROM one
         |  UNION ALL SELECT 5, '50%', q_p50, d_p50 FROM one
         |  UNION ALL SELECT 6, '75%', q_p75, d_p75 FROM one
         |  UNION ALL SELECT 7, 'max', q_max, d_max FROM one
         |) ORDER BY ord""".stripMargin,
    "q_nlargest" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15""".stripMargin,
    "q_cum_ops" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) OVER w AS DOUBLE) AS run_sum,
        |  max(o_totalprice) OVER w AS run_max,
        |  min(o_totalprice) OVER w AS run_min
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_clip" ->
      s"""SELECT l_returnflag,
         |  ${Q.sqlDsum("GREATEST(LEAST(l_extendedprice, 50000.0), 5000.0)")} AS sum_clipped,
         |  CAST(sum(CASE WHEN l_extendedprice < 5000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
         |  CAST(sum(CASE WHEN l_extendedprice > 50000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_duplicated" ->
      """SELECT l_partkey, l_suppkey,
        |  count(*) OVER (PARTITION BY l_partkey, l_suppkey) > 1 AS is_dup
        |FROM lineitem ORDER BY l_partkey, l_suppkey""".stripMargin,
    "q_nunique" ->
      """SELECT source, count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT n_chars) AS n_lengths, count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_idxmax" ->
      """WITH mx AS (SELECT lang, n_chars AS max_chars, doc_id AS idxmax FROM (
        |    SELECT lang, n_chars, doc_id, row_number() OVER (
        |      PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
        |    FROM documents) WHERE rn = 1),
        |mn AS (SELECT lang, n_chars AS min_chars, doc_id AS idxmin FROM (
        |    SELECT lang, n_chars, doc_id, row_number() OVER (
        |      PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rn
        |    FROM documents) WHERE rn = 1)
        |SELECT mx.lang, max_chars, idxmax, min_chars, idxmin
        |FROM mx JOIN mn ON mx.lang = mn.lang ORDER BY mx.lang""".stripMargin,
    "q_cut_bins" ->
      s"""SELECT CAST(LEAST(7, GREATEST(0,
         |    FLOOR((c_acctbal + 1000.0) / 1375.0))) AS INTEGER) AS bin,
         |  count(*) AS n_cust,
         |  ${Q.sqlDsum("c_acctbal")} AS bal_sum,
         |  min(c_acctbal) AS bal_min, max(c_acctbal) AS bal_max
         |FROM customer GROUP BY 1 ORDER BY bin""".stripMargin,
    "q_qcut_bins" ->
      """WITH h AS (SELECT p_size AS v, count(*) AS cnt FROM part GROUP BY 1),
        |c AS (SELECT v, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS n FROM h),
        |b AS (SELECT v, cnt,
        |    CAST(LEAST(3, (cum - cnt) * 4 // n) AS INTEGER) AS bucket FROM c)
        |SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n_parts,
        |  min(v) AS size_min, max(v) AS size_max
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_get_dummies" -> {
      val cases = (0 to 4).map(r =>
        s"CAST(CASE WHEN n_regionkey = $r THEN 1 ELSE 0 END AS INTEGER) AS reg_$r")
        .mkString(",\n  ")
      s"""SELECT n_nationkey, n_name,
         |  $cases
         |FROM nation ORDER BY n_nationkey""".stripMargin
    },
    "q_crosstab" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val cells = langs.map(l =>
        s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS $l")
        .mkString(",\n  ")
      s"""SELECT source,
         |  $cells,
         |  count(*) AS total
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },
    "q_pct_change" ->
      """SELECT user_id, event_id, value,
        |  (value - prev) / nullif(prev, 0.0) AS pct
        |FROM (SELECT user_id, event_id, value,
        |    lag(value) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events)
        |ORDER BY event_id""".stripMargin,
    "q_ewm" -> {
      // the identical dyadic-weight integer spelling; DuckDB reads ts
      // as TIMESTAMP_NS so ORDER BY ts matches Spark's ts_ns ordering
      val num = (0 until 16).map(k =>
        s"coalesce(lag(c, $k) OVER w * ${1L << (15 - k)}, 0)").mkString(" + ")
      val den = (0 until 16).map(k =>
        s"(CASE WHEN lag(c, $k) OVER w IS NULL THEN 0 ELSE ${1L << (15 - k)} END)")
        .mkString(" + ")
      s"""SELECT event_id, user_id, value,
         |  CAST($num AS DOUBLE) / CAST(100 * ($den) AS DOUBLE) AS ewm
         |FROM (SELECT event_id, user_id, ts, value,
         |    CAST(round(value * 100) AS BIGINT) AS c FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY event_id""".stripMargin
    },
    "q_rolling_corr" ->
      """WITH e AS (SELECT event_id, user_id, ts, value,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events),
        |l AS (SELECT *, lag(x) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS y FROM e),
        |f AS (SELECT * FROM l WHERE y IS NOT NULL),
        |s AS (SELECT event_id, user_id, value,
        |    count(*) OVER w AS k,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy,
        |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
        |  FROM f
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, value,
        |  CAST(7 * sxy - sx * sy AS DOUBLE)
        |    / nullif(sqrt(CAST(7 * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(7 * syy - sy * sy AS DOUBLE)), 0.0) AS corr
        |FROM s WHERE k = 7
        |ORDER BY event_id""".stripMargin,
    "q_merge_indicator" ->
      """WITH act AS (SELECT user_id AS key, count(*) AS n_events
        |  FROM events GROUP BY user_id),
        |crm AS (SELECT c_custkey AS key, c_acctbal AS acctbal FROM customer
        |  WHERE c_custkey % 3 <> 0)
        |SELECT coalesce(act.key, crm.key) AS key, act.n_events, crm.acctbal,
        |  CASE WHEN act.key IS NOT NULL AND crm.key IS NOT NULL THEN 'both'
        |       WHEN act.key IS NOT NULL THEN 'left_only'
        |       ELSE 'right_only' END AS _merge
        |FROM act FULL OUTER JOIN crm ON act.key = crm.key
        |ORDER BY key""".stripMargin,
    "q_combine_first" ->
      """WITH df1 AS (SELECT c_custkey AS key,
        |    CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS bal,
        |    c_mktsegment AS segment
        |  FROM customer),
        |df2 AS (SELECT c_custkey AS key, c_acctbal AS bal,
        |    'FALLBACK' AS segment
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT coalesce(df1.key, df2.key) AS key,
        |  coalesce(df1.bal, df2.bal) AS bal,
        |  coalesce(df1.segment, df2.segment) AS segment
        |FROM df1 FULL OUTER JOIN df2 ON df1.key = df2.key
        |ORDER BY key""".stripMargin,
    "q_concat_outer" ->
      """SELECT 'cust' AS origin, c_custkey AS rid, c_acctbal AS bal,
        |  c_mktsegment AS segment, CAST(NULL AS INTEGER) AS nationkey
        |FROM customer
        |UNION ALL
        |SELECT 'supp', s_suppkey, s_acctbal, NULL, CAST(s_nationkey AS INTEGER)
        |FROM supplier
        |ORDER BY origin, rid""".stripMargin,
    "q_rank_pct" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drank,
        |  percent_rank() OVER w AS prank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin)
}
