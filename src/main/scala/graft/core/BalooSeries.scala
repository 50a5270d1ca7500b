package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One named, typed column + the frame's index columns — the analog of
  * the reference `Series` (`/root/reference/baloo/core/series.py:17`),
  * realized as a thin view over a Spark `DataFrame` holding
  * `indexCols :+ name`.
  *
  * All operators build new lazy plans; nothing executes until an action
  * (`collect`, `count`, writes) — the same contract as the reference's
  * `evaluate()` model (SURVEY.md §1.4), inherited from `Dataset` for free.
  */
final class BalooSeries(val df: DataFrame, val indexCols: Seq[String], val name: String) {

  def col_ : Column = col(name)
  private def rebuild(c: Column, newName: String = name): BalooSeries =
    new BalooSeries(
      df.select((indexCols.map(col) :+ c.as(newName)): _*), indexCols, newName)

  // ---- comparisons (reference generic.py:51-67) → bool Series ----
  def <(v: Any): BalooSeries = rebuild(col_ < lit(v))
  def <=(v: Any): BalooSeries = rebuild(col_ <= lit(v))
  def >(v: Any): BalooSeries = rebuild(col_ > lit(v))
  def >=(v: Any): BalooSeries = rebuild(col_ >= lit(v))
  def ===(v: Any): BalooSeries = rebuild(col_ === lit(v))
  def !==(v: Any): BalooSeries = rebuild(col_ =!= lit(v))

  // ---- bool algebra (generic.py:95-104, series.py:196-201,260-266) ----
  def &(o: BalooSeries): BalooSeries = zip(o, _ && _)
  def |(o: BalooSeries): BalooSeries = zip(o, _ || _)
  def unary_! : BalooSeries = rebuild(!col_)

  // ---- arithmetic (generic.py:75-92, series.py:203-209) ----
  def +(v: Double): BalooSeries = rebuild(col_ + lit(v))
  def -(v: Double): BalooSeries = rebuild(col_ - lit(v))
  def *(v: Double): BalooSeries = rebuild(col_ * lit(v))
  def /(v: Double): BalooSeries = rebuild(col_ / lit(v))
  def **(v: Double): BalooSeries = rebuild(pow(col_, v))
  def +(o: BalooSeries): BalooSeries = zip(o, _ + _)
  def -(o: BalooSeries): BalooSeries = zip(o, _ - _)
  def *(o: BalooSeries): BalooSeries = zip(o, _ * _)
  def /(o: BalooSeries): BalooSeries = zip(o, _ / _)
  def **(o: BalooSeries): BalooSeries = zip(o, pow(_, _))

  /** Align on index (inner) then combine — the reference requires equal
    * lengths and zips positionally (`weld_ops.py:232-275`) on a UNIQUE
    * key (`is_on_unique`); with explicit index columns the equivalent is
    * an index equi-join. Duplicate index values would silently
    * row-multiply through that join, so the plan asserts per-key
    * uniqueness in-flight: the windowed count is partitioned on the same
    * keys the join just shuffled on, so it adds a sort but no exchange.
    */
  private def zip(o: BalooSeries, f: (Column, Column) => Column): BalooSeries = {
    require(indexCols.nonEmpty, "column⊕column requires an index")
    val left = df
    val right = o.df.withColumnRenamed(o.name, s"${o.name}__r")
    val joined = left.join(right, indexCols, "inner")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(indexCols.map(col): _*)
    val value = when(org.apache.spark.sql.functions.count(lit(1)).over(w) > 1,
      raise_error(concat(
        lit("column⊕column requires unique index values; duplicate key: "),
        concat_ws(",", indexCols.map(c => col(c).cast("string")): _*))))
      .otherwise(f(col(name), col(s"${o.name}__r")))
    new BalooSeries(
      joined.select((indexCols.map(col) :+ value.as(name)): _*),
      indexCols, name)
  }

  // ---- selection ----
  def filter(mask: BalooSeries): BalooSeries = {
    require(indexCols.nonEmpty,
      "filter by series requires an index (a zero-column join would not filter)")
    val m = mask.df.withColumnRenamed(mask.name, "__mask")
    new BalooSeries(
      df.join(m.filter(col("__mask")), indexCols, "left_semi"), indexCols, name)
  }

  // ---- missing data (series.py:186-194,405-439) ----
  def isna: BalooSeries = rebuild(col_.isNull)
  def notna: BalooSeries = rebuild(col_.isNotNull)
  def fillna(v: Any): BalooSeries = rebuild(coalesce(col_, lit(v)))
  def dropna(): BalooSeries = new BalooSeries(df.filter(col_.isNotNull), indexCols, name)

  // ---- casts / unary fns ----
  def astype(t: String): BalooSeries = rebuild(col_.cast(t))
  def apply(f: Column => Column): BalooSeries = rebuild(f(col_))

  /** The reference's user-supplied-IR UDF surface
    * (`Series.apply(weldTemplate)`, `series.py:529-546`,
    * `weld_udf` `weld_ops.py:700-725`): a SQL-expression template with
    * `{self}` bound to this column — e.g. `"{self} * 2 + 1"` or
    * `"exp({self})"`. Parsed by Catalyst, so it codegens like any
    * builtin (strictly better than the reference, whose snippet was
    * spliced into Weld IR text).
    */
  def applyExpr(template: String): BalooSeries =
    rebuild(expr(template.replace("{self}", s"`$name`")))

  // ---- aggregations (series.py:350-388; results f64 per reference) ----
  def sum(): Double = aggScalar(org.apache.spark.sql.functions.sum(col_))
  def prod(): Double = aggScalar(graft.functions.GraftFunctions.prod(col_))
  def min(): Double = aggScalar(org.apache.spark.sql.functions.min(col_))
  def max(): Double = aggScalar(org.apache.spark.sql.functions.max(col_))
  def count(): Long = df.filter(col_.isNotNull).count()
  def mean(): Double = aggScalar(avg(col_))
  def variance(): Double = aggScalar(var_samp(col_))
  def std(): Double = aggScalar(stddev_samp(col_))
  private def aggScalar(c: Column): Double = {
    val r = df.agg(c.cast("double")).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** Multi-agg → Series keyed by agg name, all f64 (series.py:370-388). */
  def agg(aggs: Seq[String]): DataFrame = {
    val exprs = aggs.map {
      case "prod" => AggByName("prod", col_).as("prod")
      case a => AggByName(a, col_).cast("double").as(a)
    }
    val one = df.agg(exprs.head, exprs.tail: _*)
    val stackArgs = aggs.map(a => s"'$a', `$a`").mkString(", ")
    one.selectExpr(s"stack(${aggs.size}, $stackArgs) AS (agg, value)")
  }

  /** Hash-distinct values (series.py:390-403; order NOT preserved there,
    * not here either).
    */
  def unique(): DataFrame = df.select(name).distinct()

  /** First n elements under the index order (`series.py:295-318`) —
    * plans as TakeOrderedAndProject, never a global sort.
    */
  def head(n: Int): BalooSeries =
    new BalooSeries(df.orderBy(indexCols.map(col): _*).limit(n), indexCols, name)

  /** Last n elements under the index order (`series.py:320-348`). */
  def tail(n: Int): BalooSeries =
    new BalooSeries(
      df.orderBy(indexCols.map(c => col(c).desc): _*).limit(n)
        .orderBy(indexCols.map(col): _*),
      indexCols, name)

  /** Scalar positional lookup (`series.py:112-141` via `_series_iloc`):
    * position i under the index order, distributed ordinal — no
    * single-partition window.
    */
  def iloc(i: Long): BalooSeries =
    new BalooSeries(
      graft.operators.Ordinal.iloc(df, indexCols.map(col), i).drop("ord"),
      indexCols, name)

  def str: BalooStr = new BalooStr(this)

  // ---- pandas-API breadth beyond the reference (SURVEY §2.9 ext) ----

  /** `value_counts()` — counts descending, value ascending on ties.
    * One hash aggregate; output is domain-sized.
    */
  def valueCounts(): DataFrame =
    df.groupBy(name)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
      .orderBy(col("count").desc, col(name).asc)

  /** `clip(lo, hi)` — two codegen'd saturations in the projection. */
  def clip(lo: Double, hi: Double): BalooSeries =
    rebuild(greatest(least(col_, lit(hi)), lit(lo)))

  /** `nunique()` — exact distinct count (one aggregate; swap in
    * `approx_count_distinct` at scales where HLL error is acceptable).
    */
  def nunique(): Long =
    df.agg(countDistinct(col_).as("n")).head().getLong(0)

  /** `cumsum`/`cummax`/`cummin` under the index order — GLOBAL running
    * aggregates via the distributed two-phase scan
    * ([[graft.operators.Scan]]), never a single-partition window. For
    * exact float cumsums, `astype("decimal(28,4)")` first (Q.scala
    * playbook); the scan itself is type-preserving.
    */
  def cumsum(): BalooSeries = cum("sum")
  def cummax(): BalooSeries = cum("max")
  def cummin(): BalooSeries = cum("min")
  private def cum(how: String): BalooSeries = {
    require(indexCols.nonEmpty, s"cum$how requires an index order")
    val out = graft.operators.Scan.runningAgg(
      df, indexCols.map(col), col_, how, "__cum")
    new BalooSeries(
      out.select(indexCols.map(col) :+ col("__cum").as(name): _*),
      indexCols, name)
  }

  /** `shift(n)` — value from n positions earlier under the index order
    * (negative n looks forward), NULL where no such position.
    */
  def shift(n: Long = 1L): BalooSeries = lagged("shift", n)((_, prev) => prev)

  /** `diff(n)` = x − shift(n) — NULL for the first n positions like
    * pandas.
    */
  def diff(n: Long = 1L): BalooSeries = lagged("diff", n)(_ - _)

  /** `pct_change()` — relative step under the index order; zero or
    * missing previous value yields NULL (nullif guard, engine-neutral).
    */
  def pctChange(n: Long = 1L): BalooSeries =
    lagged("pct_change", n)((x, prev) => (x - prev) / nullif(prev, lit(0.0)))

  /** The one plan of [[shift]], [[diff]] and [[pctChange]]: `out(x,
    * prev)` per row, where `prev` is the value n positions earlier.
    * Spelled as ordinal + equi self-join on `ord − n`
    * ([[graft.operators.Scan.shiftJoin]]), instead of a global-order
    * window.
    */
  private def lagged(op: String, n: Long)(out: (Column, Column) => Column): BalooSeries = {
    require(indexCols.nonEmpty, s"$op requires an index order")
    val ord = graft.operators.Ordinal.withOrdinal(df, indexCols.map(col), "__ord")
    new BalooSeries(
      graft.operators.Scan.shiftJoin(ord, ord, "__ord", n, col(name).as("__prev"))
        .select(indexCols.map(col) :+ out(col(name), col("__prev")).as(name): _*),
      indexCols, name)
  }

  /** `rolling(n)` — fixed-width trailing windows under the GLOBAL index
    * order, pandas `min_periods = n` semantics (NULL until the window
    * fills). See [[BalooRolling]] for the two scale-correct spellings.
    */
  def rolling(n: Int): BalooRolling = new BalooRolling(this, n)

  /** `where(mask, other)` — keep the value where the index-aligned bool
    * mask holds, else `other` (NULL default, like pandas NaN);
    * `mask(cond, other)` is the complement. Same aligned-zip plan as
    * series arithmetic.
    */
  def where(cond: BalooSeries, other: Any = null): BalooSeries =
    zip(cond, (v, c) => when(c, v).otherwise(lit(other)))
  def mask(cond: BalooSeries, other: Any = null): BalooSeries =
    zip(cond, (v, c) => when(!c, v).otherwise(lit(other)))

  /** `isin(values)` / `between(lo, hi)` — membership and range masks,
    * codegen'd in the projection (an IN list compiles to a hash set
    * lookup; a LARGE membership set belongs in a broadcast semi-join —
    * [[graft.queries.Fingerprints]]' decontamination pattern).
    */
  def isin(values: Seq[Any]): BalooSeries =
    rebuild(col_.isin(values: _*))
  def between(lo: Any, hi: Any): BalooSeries =
    rebuild(col_ >= lit(lo) && col_ <= lit(hi))

  /** `abs()` / `round(n)` — row-local, codegen'd. */
  def abs(): BalooSeries = rebuild(org.apache.spark.sql.functions.abs(col_))
  def round(scale: Int): BalooSeries =
    rebuild(org.apache.spark.sql.functions.round(col_, scale))

  /** `replace(mapping)` — value translation as a chained CASE (codegen'd
    * for the literal-map case; a large mapping table becomes a broadcast
    * left join instead).
    */
  def replace(mapping: Map[Any, Any]): BalooSeries =
    rebuild(mapping.foldLeft(col_) { case (acc, (from, to)) =>
      when(col_ === lit(from), lit(to)).otherwise(acc)
    })

  /** `mode()` — the most frequent value, smallest value on ties: one
    * hash aggregate to (value, count), then a `max_by` with the
    * deterministic tie-break. Never a global sort.
    */
  def mode(): DataFrame =
    df.groupBy(col_.as("v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .agg(max_by(col("v"), struct(col("cnt"), negate(col("v")))).as(name))

  /** `rank(method='min')` / `rank(method='dense')` over the VALUES
    * (pandas default ascending) — computed the way rank survives 100 TB:
    * never a global row sort. One hash aggregate to the value histogram,
    * the distributed prefix scan ([[graft.operators.Scan]]) over the
    * histogram for min-rank (= rows strictly below + 1) or the
    * distributed ordinal ([[graft.operators.Ordinal]]) for dense rank
    * (= distinct values below + 1), then an equi-join back on the value.
    */
  def rank(method: String = "min"): BalooSeries = {
    val hist = df.groupBy(col_.as("__v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__cnt"))
    val ranked = method match {
      case "min" =>
        graft.operators.Scan
          .runningAgg(hist, Seq(col("__v")), col("__cnt"), "sum", "__incl")
          .select(col("__v"), (col("__incl") - col("__cnt") + 1L).as("__rank"))
      case "dense" =>
        graft.operators.Ordinal.withOrdinal(hist, Seq(col("__v")), "__ord")
          .select(col("__v"), (col("__ord") + 1L).as("__rank"))
      case other =>
        throw new IllegalArgumentException(s"unknown rank method: $other")
    }
    new BalooSeries(
      df.join(ranked, col_ === col("__v"))
        .select(indexCols.map(col) :+ col("__rank").as(name): _*),
      indexCols, name)
  }

  def toDF: DataFrame = df
}

/** Rolling aggregates over a global order — the op Spark's window can
  * only express by collapsing to one partition. Two distributed
  * spellings instead, both from [[graft.operators.Scan]]:
  *
  *   - sum/mean: PREFIX DIFFERENCE — rolling_sum(i) = P(i) − P(i−n)
  *     where P is the inclusive running sum from the two-phase scan;
  *     the lagged prefix arrives by an equi self-join on the running
  *     row count ([[graft.operators.Scan.shiftJoin]]). Exact
  *     (decimal-carried), two exchanges total, independent of n.
  *   - min/max: prefix difference doesn't invert, so the BLOCK
  *     DECOMPOSITION over the ordinal
  *     ([[graft.operators.Scan.blockExtremes]]) — zero replication,
  *     cost independent of n (the round-6 spelling donated each row
  *     n-fold through `explode(sequence)`).
  */
final class BalooRolling(s: BalooSeries, n: Int) {
  require(n >= 1, "window must be at least 1")
  private def idx = s.indexCols.map(col)

  private def sumFrame: DataFrame = {
    val base = graft.operators.Scan.runningAggs(s.df, idx, Seq(
      (s.col_.cast("decimal(28,4)"), "sum", "__psum"),
      (lit(1L), "sum", "__rn")))
    graft.operators.Scan.shiftJoin(base, base, "__rn", n, col("__psum").as("__plag"))
      .withColumn("__rsum", when(col("__rn") >= n,
        col("__psum") - coalesce(col("__plag"), lit(0))))
  }
  def sum(): BalooSeries = new BalooSeries(
    sumFrame.select(idx :+ col("__rsum").cast("double").as(s.name): _*),
    s.indexCols, s.name)
  def mean(): BalooSeries = new BalooSeries(
    sumFrame.select(idx :+
      (col("__rsum").cast("double") / lit(n)).as(s.name): _*),
    s.indexCols, s.name)

  private def extreme(how: String): BalooSeries = {
    val ord = graft.operators.Ordinal.withOrdinal(s.df, idx, "__ord")
    new BalooSeries(
      graft.operators.Scan.blockExtremes(ord, "__ord", 0, n, Seq((s.col_, how, "__ext")))
        .select(idx :+ when(col("__ord") >= (n - 1).toLong, col("__ext")).as(s.name): _*),
      s.indexCols, s.name)
  }
  def min(): BalooSeries = extreme("min")
  def max(): BalooSeries = extreme("max")
}

/** The `.str` accessor — the reference's 11 byte-string ops
  * (`/root/reference/baloo/core/strings.py`), every one a codegen'd
  * `Column` expression (SURVEY.md §2.4 mappings).
  */
final class BalooStr(s: BalooSeries) {
  private def c: Column = s.col_
  private def re(expr: Column): BalooSeries =
    new BalooSeries(
      s.df.select((s.indexCols.map(col) :+ expr.as(s.name)): _*), s.indexCols, s.name)

  def lower(): BalooSeries = re(org.apache.spark.sql.functions.lower(c))
  def upper(): BalooSeries = re(org.apache.spark.sql.functions.upper(c))

  /** First char upper + rest lower (NOT initcap — strings.py:32-40). */
  def capitalize(): BalooSeries =
    re(concat(org.apache.spark.sql.functions.upper(substring(c, 1, 1)),
      org.apache.spark.sql.functions.lower(c.substr(lit(2), length(c)))))

  /** i-th char, negative from end, NULL out of range (strings.py:42-56). */
  def get(i: Int): BalooSeries = {
    val pos = if (i >= 0) lit(i + 1) else length(c) + lit(i + 1)
    re(when(pos >= 1 && pos <= length(c), c.substr(pos, lit(1))))
  }

  def strip(): BalooSeries = re(trim(c))

  /** [start, stop) substring, step 1 (strings.py:70-93). */
  def slice(start: Int, stop: Int): BalooSeries =
    re(c.substr(lit(start + 1), lit(math.max(stop - start, 0))))

  /** Stepped slice (strings.py supports positive step via a strided
    * Weld loop): every `step`-th char of [start, stop).
    */
  def slice(start: Int, stop: Int, step: Int): BalooSeries = {
    require(step > 0, "negative step not supported (same as reference)")
    if (step == 1) slice(start, stop)
    else {
      val stepped =
        if (stop <= start) lit("")
        else expr(
          s"concat_ws('', transform(sequence($start, ${stop - 1}, $step), " +
            s"i -> CASE WHEN i < length(`${s.name}`) THEN substring(`${s.name}`, i + 1, 1) ELSE '' END))")
      // concat_ws folds NULL input to '' — preserve NULLs like step-1 slice
      re(when(c.isNull, lit(null).cast("string")).otherwise(stepped))
    }
  }

  def contains(pat: String): BalooSeries = re(c.contains(pat))
  def startswith(pat: String): BalooSeries = re(c.startsWith(pat))
  def endswith(pat: String): BalooSeries = re(c.endsWith(pat))

  /** First index of `sub` from `start` else −1 (strings.py:143-169). */
  def find(sub: String, start: Int = 0): BalooSeries = {
    val pos = locate(sub, c, start + 1)
    re((pos - 1).cast("int"))
  }

  /** First index of `sub` confined to [start, end) else −1 — the
    * reference clamps BOTH bounds (strings.py:143-169; kernel
    * `weld_str.py:400-473` scans only [start, end−len(sub)]). Searching
    * the [start, end) substring and re-basing the hit gives exactly that:
    * the match must lie entirely inside the window, as in Python's
    * `str.find(sub, start, end)`.
    */
  def find(sub: String, start: Int, end: Int): BalooSeries = {
    require(end > start, "End must be greater than start") // strings.py:162-163
    val window = c.substr(lit(start + 1), lit(end - start))
    val pos = locate(sub, window)
    re(when(pos > 0, pos + lit(start) - 1).otherwise(lit(-1)).cast("int"))
  }

  /** Replace FIRST occurrence only (strings.py:171-188). */
  def replace(pat: String, rep: String): BalooSeries = {
    val pos = locate(pat, c)
    re(when(pos > 0,
      concat(c.substr(lit(1), pos - 1), lit(rep),
        c.substr(pos + lit(pat.length), length(c))))
      .otherwise(c))
  }

  /** Split once on the first `pat`; keep left or right part
    * (strings.py:191-219).
    */
  def split(pat: String, side: String): BalooSeries = {
    val pos = locate(pat, c)
    side match {
      case "left" => re(when(pos > 0, c.substr(lit(1), pos - 1)).otherwise(c))
      case "right" => re(when(pos > 0,
        c.substr(pos + lit(pat.length), length(c))))
      case other => throw new IllegalArgumentException(s"side must be left|right, got $other")
    }
  }
}
