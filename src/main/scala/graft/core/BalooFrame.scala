package graft.core

import graft.operators.Ordinal
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, NumericType, StringType}

/** The pandas-shaped frame — analog of the reference `DataFrame`
  * (`/root/reference/baloo/core/frame.py:18`): named columns + explicit
  * index columns, every method a 1-10 line translation onto
  * `org.apache.spark.sql` (SURVEY.md §7.0 design stance).
  *
  * Index semantics: Spark rows have no identity, so the index is just a
  * set of ordinary columns tagged in `indexCols` (SURVEY.md §1.1). A
  * default positional index is available via [[BalooFrame.withRangeIndex]]
  * (range-partitioned ordinal — never a single-partition window).
  *
  * Missing data is SQL NULL, not the reference's −999 sentinels
  * (SURVEY.md §1.3 decision).
  */
final class BalooFrame(val df: DataFrame, val indexCols: Seq[String]) {

  private def dataCols: Seq[String] = df.columns.filterNot(indexCols.contains).toSeq
  private def numericDataCols: Seq[String] = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    dataCols.filter(c => types(c).isInstanceOf[NumericType])
  }
  private def keep(cols: Seq[String]): Seq[Column] = cols.map(col)

  // ---- projection (frame.py:350-362) ----
  def apply(name: String): BalooSeries = {
    require(df.columns.contains(name), s"KeyError: $name")
    require(!indexCols.contains(name),
      s"$name is an index column, not a data column (reference keeps them separate)")
    new BalooSeries(df.select(keep(indexCols) :+ col(name): _*), indexCols, name)
  }
  def select(cols: String*): BalooFrame = {
    cols.foreach(c => require(df.columns.contains(c), s"KeyError: $c"))
    new BalooFrame(df.select(keep(indexCols ++ cols): _*), indexCols)
  }

  // ---- filter by bool Series (frame.py:363-370) ----
  def filter(mask: BalooSeries): BalooFrame = {
    require(indexCols.nonEmpty,
      "filter by series requires an index (a zero-column join would not filter)")
    val m = mask.df.withColumnRenamed(mask.name, "__mask")
    new BalooFrame(df.join(m.filter(col("__mask")), indexCols, "left_semi"), indexCols)
  }
  def where(cond: Column): BalooFrame = new BalooFrame(df.filter(cond), indexCols)

  // ---- positional (frame.py:371-378,460-514; ordinal strategy §7.3) ----
  def head(n: Int): BalooFrame =
    new BalooFrame(df.orderBy(keep(indexCols): _*).limit(n), indexCols)
  def tail(n: Int): BalooFrame = {
    val rev = indexCols.map(c => col(c).desc)
    new BalooFrame(df.orderBy(rev: _*).limit(n).orderBy(keep(indexCols): _*), indexCols)
  }
  def slice(start: Long, stop: Long): BalooFrame =
    new BalooFrame(
      Ordinal.slice(df, keep(indexCols), start, stop).drop("ord"), indexCols)
  /** Stepped positional slice `df[a:b:step]` (`weld_ops.py:136-187`). */
  def slice(start: Long, stop: Long, step: Long): BalooFrame =
    new BalooFrame(
      Ordinal.slice(df, keep(indexCols), start, stop, step).drop("ord"), indexCols)
  def iloc(i: Long): BalooFrame =
    new BalooFrame(Ordinal.iloc(df, keep(indexCols), i).drop("ord"), indexCols)

  // ---- setitem with index alignment (frame.py:414-425, weld_align) ----
  def withColumn(name: String, series: BalooSeries): BalooFrame = {
    require(indexCols.nonEmpty,
      "withColumn by series requires an index to align on")
    val s = series.df.withColumnRenamed(series.name, name)
    new BalooFrame(df.drop(name).join(s, indexCols, "left"), indexCols)
  }
  def withColumn(name: String, c: Column): BalooFrame =
    new BalooFrame(df.withColumn(name, c), indexCols)

  // ---- broadcast arithmetic over numeric columns (frame.py:260-289) ----
  private def mapNumeric(f: Column => Column): BalooFrame = {
    val projected = df.columns.toSeq.map {
      case c if numericDataCols.contains(c) => f(col(c)).as(c)
      case c => col(c)
    }
    new BalooFrame(df.select(projected: _*), indexCols)
  }
  /** Data columns participating in element-wise/comparison dispatch:
    * the reference drops ONLY str-dtype columns (`_drop_str_columns`,
    * frame.py:1309-1323 filters on dtype char 'S'), so bool and every
    * numeric dtype participate. */
  private def nonStrDataCols: Seq[String] = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    dataCols.filterNot(c => types(c) == StringType)
  }
  /** numpy promotes bool to int under arithmetic/comparison; Spark
    * errors instead — mirror the promotion with an explicit cast. */
  private def asNum(c: String): Column =
    if (df.schema(c).dataType == BooleanType) col(c).cast("int") else col(c)

  /** Element-wise dispatch (`_element_wise_operation`, frame.py:270-289):
    * string data columns are DROPPED from the RESULT frame (the
    * reference routes both the scalar and list forms through
    * `_drop_str_columns`, asserted by `test_frame.py::test_op`) — not
    * merely left untouched. The index always survives.
    */
  private def elementWise(f: Column => Column): BalooFrame =
    new BalooFrame(
      df.select(keep(indexCols) ++ nonStrDataCols.map(c => f(asNum(c)).as(c)): _*),
      indexCols)
  def +(v: Double): BalooFrame = elementWise(_ + lit(v))
  def -(v: Double): BalooFrame = elementWise(_ - lit(v))
  def *(v: Double): BalooFrame = elementWise(_ * lit(v))
  def /(v: Double): BalooFrame = elementWise(_ / lit(v))
  def **(v: Double): BalooFrame = elementWise(pow(_, v))

  /** df ⊕ list — one scalar per non-string column, positionally
    * (frame.py:270-289 dispatches all five dunders through
    * `_element_wise_operation` with list support; generic.py:78-91).
    * Shares [[elementWise]]'s drop-string-columns result semantics.
    */
  def +(vs: Seq[Double]): BalooFrame = zipNonStr(vs, _ + _)
  def -(vs: Seq[Double]): BalooFrame = zipNonStr(vs, _ - _)
  def *(vs: Seq[Double]): BalooFrame = zipNonStr(vs, _ * _)
  def /(vs: Seq[Double]): BalooFrame = zipNonStr(vs, _ / _)
  def **(vs: Seq[Double]): BalooFrame = zipNonStr(vs, pow)

  // ---- frame-level comparisons (generic.py:51-73, frame.py:260-268) ----
  /** `df ⊜ scalar` → bool frame over the non-string columns; string
    * data columns are DROPPED, matching the reference's
    * `_drop_str_columns` dispatch (frame.py:260-268, asserted by
    * `tests/core/test_frame.py::test_comparison`).
    */
  private def compareNonStr(f: Column => Column): BalooFrame =
    new BalooFrame(
      df.select(keep(indexCols) ++ nonStrDataCols.map(c => f(asNum(c)).as(c)): _*),
      indexCols)
  def <(v: Double): BalooFrame = compareNonStr(_ < lit(v))
  def <=(v: Double): BalooFrame = compareNonStr(_ <= lit(v))
  def >(v: Double): BalooFrame = compareNonStr(_ > lit(v))
  def >=(v: Double): BalooFrame = compareNonStr(_ >= lit(v))
  def ===(v: Double): BalooFrame = compareNonStr(_ === lit(v))
  def =!=(v: Double): BalooFrame = compareNonStr(_ =!= lit(v))

  /** Frame-level missingness masks (generic.py:69-73 routes isna/notna
    * through the same `_comparison` dispatch, so they share its
    * drop-string-columns semantics); the reference's −999 sentinel test
    * (`test_frame.py::test_isna`) is SQL NULL here (SURVEY §1.3).
    */
  def isna(): BalooFrame = compareNonStr(_.isNull)
  def notna(): BalooFrame = compareNonStr(_.isNotNull)
  private def zipNonStr(vs: Seq[Double], f: (Column, Column) => Column): BalooFrame = {
    val nc = nonStrDataCols
    require(vs.length == nc.length, s"expected ${nc.length} scalars, got ${vs.length}")
    new BalooFrame(
      df.select(keep(indexCols) ++ nc.zip(vs).map { case (c, v) =>
        f(asNum(c), lit(v)).as(c) }: _*),
      indexCols)
  }

  // ---- astype (frame.py:291-321) ----
  def astype(t: String): BalooFrame = mapNumeric(_.cast(t))
  def astype(types: Map[String, String]): BalooFrame = {
    val projected = df.columns.toSeq.map(c =>
      types.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c)))
    new BalooFrame(df.select(projected: _*), indexCols)
  }

  // ---- missing data (frame.py:1026-1072) ----
  def fillna(v: Any): BalooFrame = new BalooFrame(
    v match {
      case d: Double => df.na.fill(d)
      case f: Float => df.na.fill(f.toDouble)
      case l: Long => df.na.fill(l)
      case i: Int => df.na.fill(i.toLong)
      case b: Boolean => df.na.fill(b)
      case s: String => df.na.fill(s)
      case other => throw new IllegalArgumentException(
        s"unsupported fill value type: ${other.getClass.getName}")
    }, indexCols)
  def fillna(values: Map[String, Any]): BalooFrame =
    new BalooFrame(df.na.fill(values), indexCols)
  def dropna(): BalooFrame = new BalooFrame(df.na.drop(dataCols), indexCols)
  def dropna(subset: Seq[String]): BalooFrame =
    new BalooFrame(df.na.drop(subset), indexCols)

  // ---- per-column aggregate row (frame.py:594-639; f64 results) ----
  def aggAll(how: String): DataFrame = {
    require(numericDataCols.nonEmpty, "no numeric data columns to aggregate")
    val exprs = numericDataCols.map(c =>
      AggByName(how, col(c)).cast("double").as(c))
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** Multi-agg matrix: rows keyed by agg name × numeric columns
    * (frame.py:641-666) — ONE aggregation pass + stack.
    */
  def agg(aggs: Seq[String]): DataFrame = {
    require(numericDataCols.nonEmpty, "no numeric data columns to aggregate")
    val exprs = for (a <- aggs; c <- numericDataCols)
      yield AggByName(a, col(c)).cast("double").as(s"${a}__$c")
    val one = df.agg(exprs.head, exprs.tail: _*)
    val stackArgs = aggs.map(a =>
      (s"'$a'" +: numericDataCols.map(c => s"`${a}__$c`")).mkString(", ")).mkString(", ")
    one.selectExpr(
      s"stack(${aggs.size}, $stackArgs) AS (agg, ${numericDataCols.map(c => s"`$c`").mkString(", ")})")
  }

  // ---- groupby (frame.py:1074-1097) ----
  def groupby(by: String*): BalooGroupBy = {
    require(by.nonEmpty && by.size < df.columns.length, "cannot group by all columns")
    new BalooGroupBy(this, by)
  }

  // ---- sorting (frame.py:733-796; multi-column, both directions) ----
  def sortValues(by: Seq[String], ascending: Boolean = true): BalooFrame = {
    val order = by.map(c => if (ascending) col(c).asc else col(c).desc)
    new BalooFrame(df.orderBy(order: _*), indexCols)
  }
  def sortIndex(ascending: Boolean = true): BalooFrame =
    sortValues(indexCols, ascending)

  // ---- dedup (frame.py:982-1024; keep ∈ {+,*,min,max} = merger) ----
  def dropDuplicates(subset: Seq[String], keep: String): BalooFrame = {
    val others = dataCols.filterNot(subset.contains)
    require(others.nonEmpty,
      "drop_duplicates needs at least one non-subset column to merge (use unique/distinct otherwise)")
    val aggs = others.map { c =>
      (keep match {
        case "min" => min(col(c))
        case "max" => max(col(c))
        case "+" => sum(col(c))
        case "*" => graft.functions.GraftFunctions.prod(col(c))
        case other => throw new IllegalArgumentException(s"unknown keep: $other")
      }).as(c)
    }
    new BalooFrame(
      df.groupBy(subset.map(col): _*).agg(aggs.head, aggs.tail: _*), subset)
  }

  /** pandas-style keep=first under the index order (beyond reference). */
  def dropDuplicatesFirst(subset: Seq[String]): BalooFrame = {
    val w = Window.partitionBy(subset.map(col): _*)
      .orderBy(keep(indexCols): _*)
    new BalooFrame(
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn"),
      indexCols)
  }

  // ---- merge/join (frame.py:798-980) ----
  /** Equi-join on `on` columns; non-key name collisions suffixed
    * `_x`/`_y` (`_compute_new_names` frame.py:1265-1275); on-columns
    * become the result index (frame.py:1279-1306). No uniqueness or
    * sortedness restriction — Spark's join handles duplicates natively.
    */
  def merge(other: BalooFrame, on: Seq[String], how: String = "inner",
      suffixes: (String, String) = ("_x", "_y")): BalooFrame = {
    val collisions = (df.columns.toSet -- on)
      .intersect(other.df.columns.toSet -- on)
    val left = collisions.foldLeft(df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._1))
    val right = collisions.foldLeft(other.df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._2))
    val sparkHow = how match {
      case "outer" => "full_outer"
      case h => h
    }
    new BalooFrame(left.join(right, on, sparkHow), on)
  }

  def join(other: BalooFrame, how: String = "left"): BalooFrame = {
    require(indexCols == other.indexCols, "join requires matching index names")
    merge(other, indexCols, how)
  }

  // ---- index management (frame.py rename/drop/reset/set_index) ----
  def rename(mapping: Map[String, String]): BalooFrame =
    new BalooFrame(
      mapping.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) },
      indexCols.map(c => mapping.getOrElse(c, c)))
  def drop(cols: String*): BalooFrame =
    new BalooFrame(df.drop(cols: _*), indexCols.filterNot(cols.contains))
  def setIndex(cols: String*): BalooFrame = new BalooFrame(df, cols)
  def resetIndex(): BalooFrame = new BalooFrame(df, Nil)

  // ---- pandas-API breadth beyond the reference (SURVEY §2.9 ext) ----

  /** `describe()` — count/mean/std/min/25%/50%/75%/max per numeric
    * column, ONE aggregation pass + stack (the [[agg]] matrix shape).
    * Quartiles use Spark's exact `percentile` here; at 100 TB swap for
    * `approx_percentile` or, for bounded domains, the exact
    * histogram-CDF selection (`queries/PandasExt.qDescribe`).
    */
  def describe(): DataFrame = {
    require(numericDataCols.nonEmpty, "no numeric data columns to describe")
    val stats = Seq("count", "mean", "std", "min", "25%", "50%", "75%", "max")
    val exprs = for (a <- stats; c <- numericDataCols) yield (a match {
      case "count" => count(col(c))
      case "mean" => avg(col(c))
      case "std" => stddev_samp(col(c))
      case "min" => min(col(c))
      case "25%" => expr(s"percentile(`$c`, 0.25)")
      case "50%" => expr(s"percentile(`$c`, 0.5)")
      case "75%" => expr(s"percentile(`$c`, 0.75)")
      case "max" => max(col(c))
    }).cast("double").as(s"${a}__$c")
    val one = df.agg(exprs.head, exprs.tail: _*)
    val stackArgs = stats.map(a =>
      (s"'$a'" +: numericDataCols.map(c => s"`${a}__$c`")).mkString(", ")).mkString(", ")
    one.selectExpr(
      s"stack(${stats.size}, $stackArgs) AS (stat, ${numericDataCols.map(c => s"`$c`").mkString(", ")})")
  }

  /** `nlargest`/`nsmallest` — TakeOrderedAndProject top-k, index as the
    * deterministic tie-break; never a global sort.
    */
  def nlargest(n: Int, by: String): BalooFrame =
    new BalooFrame(
      df.orderBy(col(by).desc +: keep(indexCols).map(_.asc): _*).limit(n), indexCols)
  def nsmallest(n: Int, by: String): BalooFrame =
    new BalooFrame(
      df.orderBy(col(by).asc +: keep(indexCols).map(_.asc): _*).limit(n), indexCols)

  /** `clip(lo, hi)` over every numeric column — map-only saturation. */
  def clip(lo: Double, hi: Double): BalooFrame =
    mapNumeric(c => greatest(least(c, lit(hi)), lit(lo)))

  /** `nunique()` — one exact-distinct aggregate row over the data
    * columns.
    */
  def nunique(): DataFrame = {
    require(dataCols.nonEmpty, "no data columns")
    val exprs = dataCols.map(c => countDistinct(col(c)).as(c))
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** `duplicated(subset, keep=False)` — bool Series flagging every row
    * whose subset-key multiplicity exceeds 1. Key-count hash aggregate
    * joined back on the key (one shared partitioning, AQE broadcasts
    * the count side when small) — sort-free, unlike the window
    * spelling.
    */
  def duplicated(subset: Seq[String]): BalooSeries = {
    require(indexCols.nonEmpty, "duplicated requires an index")
    val cnts = df.groupBy(subset.map(col): _*).agg(count(lit(1)).as("__kc"))
    new BalooSeries(
      df.select(keep(indexCols ++ subset): _*).join(cnts, subset)
        .select(keep(indexCols) :+ (col("__kc") > 1L).as("duplicated"): _*),
      indexCols, "duplicated")
  }

  /** `pivot_table(index, columns, values, aggfunc)` — ONE pivot hash
    * aggregate over an EXPLICIT column domain (domain discovery is a
    * second corpus scan at 100 TB; callers that truly need it can pass
    * the result of a deliberate `distinct().collect()`).
    */
  def pivotTable(index: String, columns: String, values: String,
      domain: Seq[Any], aggFunc: String = "sum"): BalooFrame = {
    val aggc = aggFunc match {
      case "sum" => sum(col(values))
      case "min" => min(col(values))
      case "max" => max(col(values))
      case "count" => count(col(values))
      case "mean" => avg(col(values))
      case other => throw new IllegalArgumentException(s"unknown aggfunc: $other")
    }
    new BalooFrame(
      df.groupBy(col(index)).pivot(columns, domain).agg(aggc), Seq(index))
  }

  /** `melt(id_vars, value_vars)` — wide→long, ONE Expand over a single
    * scan (never a UNION-ALL rescan per measure).
    */
  def melt(idVars: Seq[String], valueVars: Seq[String],
      varName: String = "variable", valueName: String = "value"): BalooFrame =
    new BalooFrame(
      df.unpivot(idVars.map(col).toArray, valueVars.map(col).toArray,
        varName, valueName), idVars)

  /** Data column names (`frame.py:183`) — index excluded, like the
    * reference's `columns`.
    */
  def columns: Seq[String] = dataCols

  /** (column, Spark type) pairs for data columns (`frame.py:168`). */
  def dtypes: Seq[(String, String)] = {
    val bySchema = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    dataCols.map(c => c -> bySchema(c))
  }

  /** True iff no rows (`frame.py:161`). */
  def empty: Boolean = df.isEmpty

  /** The index as a frame (`frame.py:516` `keys()`). */
  def keys(): DataFrame = df.select(indexCols.map(col): _*)

  /** Attach a positional RangeIndex under the current sort order —
    * distributed ordinal, not a single-partition window.
    */
  def withRangeIndex(name: String = "index"): BalooFrame = {
    val order = if (indexCols.nonEmpty) keep(indexCols) else df.columns.toSeq.map(col)
    new BalooFrame(Ordinal.withOrdinal(df, order, name), Seq(name))
  }

  def toDF: DataFrame = df
}

/** Deferred grouping descriptor — analog of reference `GroupBy`
  * (`/root/reference/baloo/core/groupby.py:11`). Group keys become the
  * result index; all strategies are Spark's single-pass partial+final
  * hash aggregate (the reference's dictmerger/groupmerger split is
  * unnecessary — SURVEY.md §2.6).
  */
final class BalooGroupBy(frame: BalooFrame, by: Seq[String]) {
  private def valueCols: Seq[String] = {
    val types = frame.df.schema.fields.map(f => f.name -> f.dataType).toMap
    frame.df.columns.toSeq
      .filterNot(by.contains).filterNot(frame.indexCols.contains)
      .filter(c => types(c).isInstanceOf[NumericType])
  }
  private def run(f: String => Column): BalooFrame = {
    val aggs = valueCols.map(c => f(c).as(c))
    new BalooFrame(frame.df.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*), by)
  }
  def sum(): BalooFrame = run(c => org.apache.spark.sql.functions.sum(col(c)))
  def prod(): BalooFrame = run(c => graft.functions.GraftFunctions.prod(col(c)))
  def min(): BalooFrame = run(c => org.apache.spark.sql.functions.min(col(c)))
  def max(): BalooFrame = run(c => org.apache.spark.sql.functions.max(col(c)))
  def mean(): BalooFrame = run(c => avg(col(c)).cast("double"))
  def variance(): BalooFrame = run(c => var_samp(col(c)).cast("double"))
  def std(): BalooFrame = run(c => stddev_samp(col(c)).cast("double"))
  def size(): BalooFrame =
    new BalooFrame(
      frame.df.groupBy(by.map(col): _*).agg(count(lit(1)).as("size")), by)

  /** pandas `groupby(k).agg({'a': 'sum', 'b': 'mean', …})` — a DIFFERENT
    * aggregate per column, still ONE partial+final hash aggregate pass
    * (Spark fuses the expression list; no per-column re-scan).
    */
  def agg(how: Map[String, String]): BalooFrame = {
    require(how.nonEmpty, "empty aggregation map")
    how.keys.foreach(c => require(frame.df.columns.contains(c), s"KeyError: $c"))
    val aggs = how.toSeq.sortBy(_._1).map {
      case (c, "nunique") => countDistinct(col(c)).as(c)
      case (c, a) => AggByName(a, col(c)).as(c)
    }
    new BalooFrame(
      frame.df.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*), by)
  }
}

/** The reference's aggregate names (sum/prod/min/max/count/mean/var/std,
  * `frame.py:594-666`, `series.py:350-388`) → the one Spark aggregate
  * each spells; every caller adds its own casts and aliases.
  */
private[core] object AggByName {
  def apply(name: String, c: Column): Column = name match {
    case "sum" => sum(c)
    case "prod" => graft.functions.GraftFunctions.prod(c)
    case "min" => min(c)
    case "max" => max(c)
    case "count" => count(c)
    case "mean" => avg(c)
    case "var" => var_samp(c)
    case "std" => stddev_samp(c)
    case other => throw new IllegalArgumentException(s"unknown agg: $other")
  }
}
