package graft.queries

import graft.Tables
import graft.functions.GraftFunctions.prod
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.6 — grouped aggregation.
  *
  * Reference: `df.groupby(by).{sum,prod,min,max,mean,var,std,size}`
  * (`/root/reference/baloo/core/groupby.py`). The reference needs two
  * codegen strategies — one-pass `dictmerger` for sum/prod/min/max and a
  * group-materializing two-phase path for mean/var/std
  * (`baloo/weld/weld_group.py:68-284`); Spark's hash aggregate streams
  * ALL of these with partial (map-side) + final aggregation around one
  * shuffle on the group key, so both families are the same single-pass
  * plan here — including `graft_prod`, Spark's built-in `Product`
  * DeclarativeAggregate.
  *
  * Scale: groupBy(low-cardinality keys) partial-aggregates to tiny
  * map-side state before the shuffle, so bytes shuffled ∝ #groups ×
  * #partitions, not #rows — the pattern that survives 100 TB. Group
  * output order is nondeterministic in both the reference (hash order,
  * `README.md:29-30`) and Spark; every query here orders by its key for
  * the oracle hash.
  */
object GroupBys extends QueryModule {

  /** dictmerger family (`groupby.py:33-37`): sum/min/max/count per group. */
  def qGroupSum(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        Q.dsum(col("o_totalprice")).as("sum_price"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Salted two-phase aggregation ([[graft.operators.Salt.saltedSum]]):
    * hot-key mitigation for KNOWN skew — the per-(key, salt) partial
    * fans a hot key across reducers before the tiny per-key final.
    * Value summed through exact decimal so the extra merge level stays
    * order-independent (bit-identical to the unsalted oracle).
    */
  def qGroupSumSalted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Salt.saltedSum(
        Tables.lineitem(s, dir), col("l_returnflag"),
        col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(28, 4)))
      .withColumn("sum", col("sum").cast("double"))
      .orderBy("k")

  /** Grouped exact percentiles (beyond ref): Spark's `percentile` and
    * DuckDB's `quantile_cont` both use the (n−1)·p linear-interpolation
    * definition; a 1e-4 round guards the final-arithmetic ulp. Exact
    * percentile buffers each group's values — right for bounded groups
    * like these 3 flags; at unbounded-group 100 TB scale swap in
    * `percentile_approx` (t-digest, mergeable constant-size sketch).
    */
  def qGroupPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
      .orderBy("l_returnflag")

  /** Grouped product — per-order product of line numbers (≤ 7! so exact
    * in double; associative merge keeps it order-independent).
    */
  def qGroupProd(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(prod(col("l_linenumber")).as("prod_ln"))
      .orderBy("l_orderkey")

  /** groupmerger family (`groupby.py:39-54`): mean/var/std per group,
    * f64 results (`groupby.py:94-101`) — sample variance, matching
    * DuckDB's var_samp convention, via exact decimal moments.
    */
  def qGroupMoments(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Q.davg(col("l_quantity")).as("mean_qty"),
        Q.dvar(col("l_quantity")).as("var_qty"),
        Q.dstd(col("l_quantity")).as("std_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** `GroupBy.size` (`groupby.py:103-104`). */
  def qGroupSize(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("size"))
      .orderBy("event_type")

  /** The baloo benchmark's groupby-var (2 int-ish keys → var of a float
    * column; `/root/reference/benchmarks/run.py:18`) recast on events.
    */
  def qGroupVar2Key(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), (col("user_id") % 10).as("user_mod"))
      .agg(Q.dvar(col("value")).as("var_value"))
      .orderBy("event_type", "user_mod")

  /** Exact distinct counting (beyond reference): per-group
    * count(DISTINCT user) — Catalyst plans the two-level expand+agg that
    * keeps distinct counting shuffle-bounded at scale.
    */
  def qCountDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Per-group MODE (most frequent value, smallest-value tie-break) —
    * two codegen'd hash aggregates: (group, value) counts, then an
    * argmax per group via `max(struct(count, −value))`. Both stages
    * take map-side partials; no per-group sort window anywhere, which
    * is what keeps mode computable when a group holds 10^9 rows.
    */
  def qGroupMode(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
      .groupBy("l_returnflag")
      .agg(max(struct(col("c"), (-col("l_quantity")).as("nq"))).as("m"))
      .select(col("l_returnflag"), (-col("m.nq")).as("mode_qty"),
        col("m.c").as("n"))
      .orderBy("l_returnflag")

  /** Grouping sets (beyond reference — SURVEY §2.5 notes the reference
    * has none): ROLLUP over (returnflag, linestatus) with grouping ids.
    * Catalyst plans one Expand + hash aggregate — one scan, all levels.
    */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), Q.dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** CUBE over the same keys — all 4 grouping combinations in one pass. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), Q.dsum(col("l_quantity")).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** pandas `groupby(k).agg({'a': 'sum', 'b': 'nunique', …})` through
    * the [[graft.core.BalooGroupBy.agg]] mixed-aggregate API — one
    * fused hash-aggregate pass (the nunique leg adds its Expand). The
    * summed column (l_quantity) is integer-valued, so the raw double
    * sum is exact and order-independent; float-continuous sums belong
    * in `Q.dsum` (see qGroupSum).
    */
  def qGroupAggMixed(s: SparkSession, dir: String): DataFrame =
    new graft.core.BalooFrame(
      Tables.lineitem(s, dir)
        .select("l_returnflag", "l_quantity", "l_discount",
          "l_extendedprice", "l_orderkey"), Nil)
      .groupby("l_returnflag")
      .agg(Map(
        "l_quantity" -> "sum",
        "l_discount" -> "nunique",
        "l_extendedprice" -> "max",
        "l_orderkey" -> "count"))
      .toDF
      .orderBy("l_returnflag")

  /** HyperLogLog geometry: 2⁸ registers (index = low 8 bits of the
    * 60-bit md5 hash), rank = leading-zero count of the remaining 52
    * bits + 1 ∈ [1, 53] (0 = empty register). One definition feeds both
    * engines.
    */
  private val HllRegs = 256
  private val HllRank = 53 // 60 hash bits − 8 index bits + 1

  /** α·m²·2⁵³ as ONE double expression spelled identically on both
    * engines (every literal cast to DOUBLE so neither engine parses a
    * DECIMAL; the IEEE op sequence is then bit-identical).
    */
  private val HllNum =
    "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE)" +
      " / CAST(256.0 AS DOUBLE))) * CAST(65536.0 AS DOUBLE)" +
      " * CAST(9007199254740992.0 AS DOUBLE)"

  /** The full estimator over the (d = Σ2^(53−M) BIGINT, v = empty-
    * register count) aggregate row: raw α·m²/Σ2⁻ᴹ, replaced by
    * LinearCounting m·ln(m/V) in the standard small-range regime
    * (raw ≤ 2.5m and V > 0) where raw HLL overestimates badly.
    * ONE spelling for both engines; `ln` is the one libm call, so the
    * result rounds at the playbook's 1e-4 grain (everything feeding
    * it — d, v, the raw quotient — is bit-identical cross-engine).
    */
  private val hllEstimate: String = {
    val raw = s"($HllNum) / CAST(d AS DOUBLE)"
    val lc = s"CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / CAST(v AS DOUBLE))"
    s"round(CASE WHEN v > 0 AND ($raw) <= CAST(640.0 AS DOUBLE)" +
      s" THEN $lc ELSE $raw END, 4)"
  }

  /** HyperLogLog distinct-user sketch per event_type, next to the exact
    * count it approximates (the q_count_distinct pair) — the mergeable
    * cardinality sketch a 100 TB pipeline keeps per shard/day: state is
    * the (group, register) → max-rank table, 2⁸ rows per group
    * REGARDLESS of cardinality, mergeable by element-wise max (a spec
    * proves split-merge ≡ whole), and the register aggregation takes
    * map-side partials so the shuffle carries ≤ groups·2⁸ rows. The
    * whole estimator is deterministic cross-engine: md5-derived integer
    * ranks (rank via the binary-string length of the 52-bit remainder —
    * `conv(_,10,2)` / `bin()` are both unpadded), an EXACT BIGINT
    * denominator Σ 2^(53−M) ≤ 2⁶¹ (int64→double casts are identical
    * IEEE round-to-nearest on both engines), and the standard
    * estimator — raw α·m²/Σ2⁻ᴹ with the LinearCounting small-range
    * replacement ([[hllEstimate]]). The output carries the exact count
    * + relative error, so the driver gate certifies the arithmetic
    * bit-for-bit, not a tolerance.
    */
  /** The (event_type, reg, m = max rank) register table of a frame with
    * (event_type, user_id) — the MERGEABLE sketch state, shared by the
    * batch query, the mergeability spec, and the streaming twin (where
    * the same groupBy-max runs as a complete-mode streaming aggregate
    * with state ≤ groups·2⁸ rows).
    */
  private[graft] def hllRegisters(df: DataFrame): DataFrame =
    df.select(col("event_type"),
        expr(Fingerprints.hashOfSql("CAST(user_id AS STRING)")).as("h"))
      .select(col("event_type"),
        expr(s"CAST(h % $HllRegs AS INT)").as("reg"),
        expr(s"h DIV $HllRegs").as("w"))
      .select(col("event_type"), col("reg"),
        expr(s"CASE WHEN w = 0 THEN $HllRank" +
          s" ELSE $HllRank - length(conv(w, 10, 2)) END").as("rho"))
      .groupBy("event_type", "reg").agg(max("rho").as("m"))

  /** The batch finisher over a register table: grid-fill empty
    * registers, exact-integer denominator, [[hllEstimate]], exact count
    * + relative error columns.
    */
  private[graft] def hllFinish(s: SparkSession, regs: DataFrame,
      ev: DataFrame): DataFrame = {
    val grid = ev.select("event_type").distinct()
      .crossJoin(s.range(HllRegs).select(col("id").cast("int").as("reg")))
    val est = grid.join(regs, Seq("event_type", "reg"), "left")
      .withColumn("m", coalesce(col("m"), lit(0)))
      .groupBy("event_type")
      .agg(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $HllRank - m)")).as("d"),
        sum(expr("CASE WHEN m = 0 THEN 1 ELSE 0 END")).as("v"))
      .withColumn("est_distinct", expr(hllEstimate))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, "event_type")
      .withColumn("rel_err",
        expr("round(abs(est_distinct - n_exact) / n_exact, 4)"))
      .select("event_type", "est_distinct", "n_exact", "rel_err")
      .orderBy("event_type")
  }

  def qHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    hllFinish(s, hllRegisters(ev), ev)
  }

  // ---- mergeable fixed-bucket QUANTILE sketch (the percentile analog
  // of the HLL cardinality sketch above) ----

  /** Bucket width in DECIMAL(28,4) unscaled units (25 000 = 2.5 value
    * units): the sketch's value-error bound is W/2 = 1.25, and state per
    * group is (value range)/2.5 buckets regardless of row count.
    */
  private[graft] val QsW = 25000L

  /** The quantiles the checked query reports, as exact rationals
    * (num/den) so every rank comparison is integer arithmetic.
    */
  private[graft] val QsQuantiles = Seq((1L, 2L, "p50"), (9L, 10L, "p90"),
    (99L, 100L, "p99"))

  /** value in DECIMAL(28,4) unscaled units — the same canonical-string
    * HALF_UP rounding every decimal sum in the repo performs, so the
    * sketch's bucketing is bit-deterministic cross-engine.
    */
  private val qsUnscaled = "CAST(CAST(value AS DECIMAL(28,4)) * 10000 AS BIGINT)"

  /** The (event_type, bucket) → count table of a frame with
    * (event_type, value) — the MERGEABLE quantile-sketch state, shared
    * by the batch query, the mergeability spec, and the streaming twin
    * (where the same groupBy-count runs as a complete-mode streaming
    * aggregate with state ≤ groups · buckets rows forever). Counts merge
    * by per-bucket sum, exactly like HLL registers merge by max.
    * Bucketing is integer floor division of the non-negative unscaled
    * value (`DIV` truncates toward zero = floors on the sketch's
    * non-negative domain; shift/scale a signed domain in before
    * sketching — the DuckDB twin `//` floors, so a negative value would
    * be the one spelling divergence).
    */
  private[graft] def quantileBuckets(df: DataFrame): DataFrame =
    // TRUE floor division via pmod (ADVICE r12): `u DIV W` truncates
    // toward zero, DuckDB's `//` floors — identical on the non-negative
    // domain, divergent below it; (u − pmod(u, W)) DIV W floors on both
    // domains, so the cross-engine agreement no longer rests on a
    // documented-but-unchecked domain assumption.
    df.select(col("event_type"), expr(qsUnscaled).as("u"))
      .select(col("event_type"),
        expr(s"(u - pmod(u, $QsW)) DIV $QsW").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("cnt"))

  /** Batch finisher over a bucket table: per group, the estimate for
    * quantile q is the midpoint of the smallest bucket whose cumulative
    * count reaches rank ⌈q·n⌉ — that bucket CONTAINS the exact rank-q
    * element, so |est − exact| ≤ W/2 (1.25 value units) by construction,
    * and the output carries the exact percentile + absolute error so the
    * driver gate certifies the arithmetic bit-for-bit. Every rank test
    * is integer (`cum·den ≥ num·n`); the only doubles are the final
    * unscale divisions, identical IEEE on both engines.
    *
    * The exact column sorts each group (row_number window) — telemetry
    * for the gate; the SKETCH path is the 100 TB product: one map-side-
    * combining hash-agg whose shuffle carries ≤ groups·buckets rows,
    * with no per-group sort anywhere.
    */
  private[graft] def quantileFinish(regs: DataFrame, ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = regs
      .withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
    val estAggs = QsQuantiles.map { case (num, den, nm) =>
      min(when(col("cum") * den >= col("n") * num, col("bucket"))).as(s"b_$nm")
    }
    val est = cum.groupBy("event_type").agg(estAggs.head, estAggs.tail: _*)
    val ranked = ev
      .select(col("event_type"), expr(qsUnscaled).as("u"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("u")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val exAggs = QsQuantiles.map { case (num, den, nm) =>
      min(when(col("rn") * den >= col("n") * num, col("u"))).as(s"x_$nm")
    }
    val exact = ranked.groupBy("event_type").agg(exAggs.head, exAggs.tail: _*)
    est.join(exact, "event_type")
      .select(col("event_type") +: QsQuantiles.flatMap { case (_, _, nm) =>
        val e = (col(s"b_$nm") * QsW + lit(QsW / 2)).cast("double") / lit(10000.0)
        val x = col(s"x_$nm").cast("double") / lit(10000.0)
        Seq(e.as(s"est_$nm"), x.as(s"exact_$nm"),
          round(abs(e - x), 4).as(s"err_$nm"))
      }: _*)
      .orderBy("event_type")
  }

  /** Per-event_type p50/p90/p99 from the mergeable fixed-bucket sketch,
    * next to the exact percentiles it approximates — the streaming-safe
    * percentile a 100 TB pipeline keeps per shard/day where exact
    * `percentile_disc` (group-sized sort state) has no incremental
    * answer. A spec proves split-merge ≡ whole and the W/2 error bound.
    */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_type", "value")
    quantileFinish(quantileBuckets(ev), ev)
  }

  /** DuckDB spelling of the whole sketch + exact chain — shared verbatim
    * by the batch and streaming twins.
    */
  private[graft] lazy val sqlQuantileSketch: String = {
    val ests = QsQuantiles.map { case (num, den, nm) =>
      s"min(CASE WHEN cum * $den >= n * $num THEN bucket END) AS b_$nm"
    }.mkString(",\n    ")
    val exacts = QsQuantiles.map { case (num, den, nm) =>
      s"min(CASE WHEN rn * $den >= n * $num THEN u END) AS x_$nm"
    }.mkString(",\n    ")
    val outs = QsQuantiles.map { case (_, _, nm) =>
      s"""CAST(b_$nm * $QsW + ${QsW / 2} AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS est_$nm,
         |  CAST(x_$nm AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS exact_$nm,
         |  round(abs(CAST(b_$nm * $QsW + ${QsW / 2} AS DOUBLE) / CAST(10000.0 AS DOUBLE)
         |    - CAST(x_$nm AS DOUBLE) / CAST(10000.0 AS DOUBLE)), 4) AS err_$nm""".stripMargin
    }.mkString(",\n  ")
    s"""WITH u AS (SELECT event_type,
       |    CAST(CAST(value AS DECIMAL(28,4)) * 10000 AS BIGINT) AS u
       |  FROM events),
       |b AS (SELECT event_type, u // $QsW AS bucket, count(*) AS cnt
       |  FROM u GROUP BY 1, 2),
       |c AS (SELECT event_type, bucket, cnt,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
       |  FROM b),
       |e AS (SELECT event_type,
       |    $ests
       |  FROM c GROUP BY event_type),
       |r AS (SELECT event_type, u,
       |    row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM u),
       |x AS (SELECT event_type,
       |    $exacts
       |  FROM r GROUP BY event_type)
       |SELECT e.event_type,
       |  $outs
       |FROM e JOIN x ON e.event_type = x.event_type
       |ORDER BY e.event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll_distinct" -> (qHllDistinct(_, _)),
    "q_quantile_sketch" -> (qQuantileSketch(_, _)),
    "q_group_agg_mixed" -> (qGroupAggMixed(_, _)),
    "q_rollup" -> (qRollup(_, _)),
    "q_cube" -> (qCube(_, _)),
    "q_count_distinct" -> (qCountDistinct(_, _)),
    "q_group_sum" -> (qGroupSum(_, _)),
    "q_group_sum_salted" -> (qGroupSumSalted(_, _)),
    "q_group_percentiles" -> (qGroupPercentiles(_, _)),
    "q_group_prod" -> (qGroupProd(_, _)),
    "q_group_moments" -> (qGroupMoments(_, _)),
    "q_group_size" -> (qGroupSize(_, _)),
    "q_group_var_2key" -> (qGroupVar2Key(_, _)),
    "q_group_mode" -> (qGroupMode(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_quantile_sketch" -> sqlQuantileSketch,
    "q_hll_distinct" ->
      s"""WITH h AS (SELECT event_type, user_id,
         |    ${Fingerprints.sqlHashOf("CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (SELECT event_type, CAST(h % $HllRegs AS INTEGER) AS reg,
         |    h // $HllRegs AS w FROM h),
         |rr AS (SELECT event_type, reg, CASE WHEN w = 0 THEN $HllRank
         |    ELSE $HllRank - length(bin(w)) END AS rho FROM r),
         |mx AS (SELECT event_type, reg, max(rho) AS m
         |  FROM rr GROUP BY event_type, reg),
         |grid AS (SELECT t.event_type, g.reg
         |  FROM (SELECT DISTINCT event_type FROM events) t,
         |    (SELECT CAST(unnest(range(0, $HllRegs)) AS INTEGER) AS reg) g),
         |f AS (SELECT grid.event_type, grid.reg, coalesce(mx.m, 0) AS m
         |  FROM grid LEFT JOIN mx
         |    ON grid.event_type = mx.event_type AND grid.reg = mx.reg),
         |d AS (SELECT event_type,
         |    CAST(sum(CAST(1 AS BIGINT) << ($HllRank - m)) AS BIGINT) AS d,
         |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
         |  FROM f GROUP BY event_type),
         |e AS (SELECT event_type, $hllEstimate AS est_distinct FROM d),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY event_type)
         |SELECT e.event_type, e.est_distinct, ex.n_exact,
         |  round(abs(e.est_distinct - ex.n_exact) / ex.n_exact, 4) AS rel_err
         |FROM e JOIN ex ON e.event_type = ex.event_type
         |ORDER BY e.event_type""".stripMargin,
    "q_group_agg_mixed" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_discount) AS l_discount,
        |  max(l_extendedprice) AS l_extendedprice,
        |  count(l_orderkey) AS l_orderkey,
        |  sum(l_quantity) AS l_quantity
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${Q.sqlDsum("l_quantity")} AS sum_qty,
         |  GROUPING(l_returnflag, l_linestatus) AS gid
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
         |  l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  ${Q.sqlDsum("l_quantity")} AS sum_qty,
         |  GROUPING(l_returnflag, l_linestatus) AS gid
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY gid ASC, l_returnflag ASC NULLS FIRST,
         |  l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_group_mode" ->
      """WITH g AS (SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, l_quantity, c,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY c DESC, l_quantity ASC) AS rn
        |  FROM g)
        |SELECT l_returnflag, l_quantity AS mode_qty, c AS n
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q_group_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  round(quantile_cont(l_quantity, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_group_sum_salted" ->
      s"""SELECT l_returnflag AS k,
         |  ${Q.sqlDsum("l_quantity")} AS sum,
         |  count(*) AS count
         |FROM lineitem GROUP BY l_returnflag ORDER BY k""".stripMargin,
    "q_group_sum" ->
      s"""SELECT o_orderpriority,
         |  ${Q.sqlDsum("o_totalprice")} AS sum_price,
         |  min(o_totalprice) AS min_price,
         |  max(o_totalprice) AS max_price,
         |  count(*) AS n
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_group_prod" ->
      """SELECT l_orderkey, product(l_linenumber) AS prod_ln
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_group_moments" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Q.sqlDavg("l_quantity")} AS mean_qty,
         |  ${Q.sqlDvar("l_quantity")} AS var_qty,
         |  ${Q.sqlDstd("l_quantity")} AS std_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_group_size" ->
      """SELECT event_type, count(*) AS size
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_group_var_2key" ->
      s"""SELECT event_type, user_id % 10 AS user_mod,
         |  ${Q.sqlDvar("value")} AS var_value
         |FROM events GROUP BY event_type, user_id % 10
         |ORDER BY event_type, user_mod""".stripMargin)
}
