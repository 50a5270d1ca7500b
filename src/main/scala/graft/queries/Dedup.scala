package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.5 `unique` / `drop_duplicates` + the exact-dedup leg of
  * the LLM-pipeline dedup suite.
  *
  * Reference: `Series.unique` (hash-distinct, order not preserved —
  * `/root/reference/baloo/core/series.py:390-403`) and
  * `DataFrame.drop_duplicates(subset, keep)` where `keep ∈
  * {'+','*','min','max'}` applies a MERGER to the non-key columns
  * (`frame.py:982-1024`, `weld_ops.py:572-655`) — NOT pandas first/last.
  * Both map to groupBy-agg: one shuffle on the subset key with map-side
  * partial aggregation, the exact shape that survives 100 TB. The
  * pandas-style `keep='first'` the reference lacks is added via a
  * window over the subset key — partitioned, never single-node.
  *
  * Exact text dedup (LLM-pipeline): group documents by md5(text) and
  * keep the lowest doc_id — content-hash grouping shuffles 16-byte
  * digests, not documents.
  */
object Dedup extends QueryModule {

  /** `Series.unique` — distinct values of one column. */
  def qUnique(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_quantity").distinct()
      .orderBy("l_quantity")

  /** `drop_duplicates(subset=[okey,ln], keep='min')` — min-merge the
    * payload columns per key (`weld_ops.py:572-655`).
    */
  def qDropDupMin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("l_extendedprice")).as("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  /** `drop_duplicates(keep='+')` — sum-merge the payload columns. */
  def qDropDupSum(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(Q.dsum(col("l_quantity")).as("sum_qty"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** `drop_duplicates(keep='*')` — product-merge the payload columns
    * (`weld_ops.py:572-655` merger `*`), via `graft_prod` (Spark's
    * built-in `Product` aggregate). Dup groups are ≤5 rows of qty ≤ 50,
    * so products stay integer-exact in f64.
    */
  def qDropDupProd(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(graft.functions.GraftFunctions.prod(col("l_quantity")).as("prod_qty"),
        min(col("l_extendedprice")).as("min_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** pandas-style `keep='first'` under an explicit total order — the
    * variant the reference cannot express; `row_number` over a
    * partitioned window (no global sort).
    */
  def qDropDupFirst(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey", "l_linenumber")
      .orderBy(col("l_quantity").asc, col("l_extendedprice").asc)
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Exact content dedup on documents via md5 content hash. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Words per segment in the paragraph-dedup proxy segmentation. The
    * synthetic corpus has no newlines, so "paragraphs" are fixed
    * 10-word windows; on real data the splitter is `split(text, '\n')`
    * and everything downstream is unchanged.
    */
  private val ParaWords = 10

  /** Paragraph-level exact dedup WITH document reassembly — the
    * MassiveText/RefinedWeb cleaning step the span queries
    * ([[CorpusQuality.qDedupSpans]]) only *flag*: every verbatim
    * re-occurrence of a segment anywhere in the corpus is excised
    * (corpus-wide first occurrence wins — min (doc_id, seg_idx)), and
    * each document's text is rebuilt from its surviving segments in
    * original order.
    *
    * Plan shape at 100 TB: segment explode is map-only; the keeper
    * election groups on the 16-byte md5 of the segment (one shuffle of
    * digests + an encoded 8-byte occurrence key, map-side partial min);
    * the keep decision joins segments to keepers on the digest (the one
    * shuffle that carries segment text, unavoidable — the survivors are
    * the output); reassembly is one shuffle on doc_id with
    * `collect_list` + in-plan sort of the per-doc handful of segments.
    * No windows, no driver-side state. The occurrence key encodes
    * (doc_id, seg_idx) as doc_id·100000 + seg_idx — valid while
    * documents stay under 10⁵ segments (10⁶ words); beyond that widen
    * the factor.
    */
  def qDedupParagraph(s: SparkSession, dir: String): DataFrame = {
    // Explode the segment-index sequence and build each segment string
    // post-explode with codegen'd slice+array_join (a posexplode fed by
    // a transform-built string array runs the lambda interpreted and
    // copies the array — see TextAnalysis.bigramIdxExpr). The sequence
    // starts at 0 step 1, so the index IS the position.
    val segs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("words"), explode(expr(
        s"sequence(0, greatest(cast(ceil(size(words) / $ParaWords.0) as int), 1) - 1)"))
        .as("seg_idx"))
      .select(col("doc_id"), col("seg_idx"), expr(
        s"array_join(slice(words, seg_idx * $ParaWords + 1, $ParaWords), ' ')").as("seg"))
    val occ = segs
      .withColumn("h", md5(col("seg")))
      .withColumn("occ_key", col("doc_id") * lit(100000L) + col("seg_idx"))
    val keeper = occ.groupBy("h").agg(min(col("occ_key")).as("keep_key"))
    val kept = occ.join(keeper, Seq("h")).filter(col("occ_key") === col("keep_key"))
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        collect_list(struct(col("seg_idx"), col("seg"))).as("ps"))
      .select(col("doc_id"), col("n_kept"),
        md5(expr("array_join(transform(array_sort(ps), x -> x.seg), ' ')")).as("clean_hash"),
        expr("length(array_join(transform(array_sort(ps), x -> x.seg), ' '))").as("n_chars_clean"))
      .orderBy("doc_id")
  }

  /** Edit-distance τ for the fuzzy join; blocking is provably complete
    * for this τ (see [[delNbhd]]).
    */
  private val FuzzyTau = 2

  /** The ≤[[FuzzyTau]]-deletion neighborhood of a string: every string
    * obtainable by deleting at most τ characters, distinct. FastSS /
    * SymSpell blocking key set: if `lev(a,b) ≤ τ` then deleting the
    * edited positions from each side yields a COMMON member of both
    * neighborhoods, so an equi-join on these keys is a complete
    * candidate generator — no false negatives, and false positives are
    * removed by the exact confirm. |keys| = O(len²) per string for τ=2.
    */
  private def delNbhd(c: String): Column = {
    val del = (s: String, i: String) =>
      s"concat(substring($s, 1, $i - 1), substring($s, $i + 1, 2147483647))"
    expr(
      s"""array_distinct(flatten(transform(
         |  concat(array($c), transform(sequence(1, length($c)),
         |    i -> ${del(c, "i")})),
         |  t -> concat(array(t), transform(sequence(1, length(t)),
         |    j -> ${del("t", "j")})))))""".stripMargin)
  }

  /** Record linkage / fuzzy self-join: pairs of DISTINCT part names
    * within edit distance ≤ [[FuzzyTau]], with per-name row counts —
    * the "same entity, dirty spelling" primitive of entity resolution.
    *
    * Scale shape (the whole point — the naive form is an O(n²) string
    * cross join): (1) collapse the corpus to distinct names + counts
    * (one hash agg; 2000→64 rows at sf0.01, and the ratio only improves
    * with scale); (2) explode each name's deletion neighborhood
    * ([[delNbhd]], O(len²) keys/name) and EQUI-join on the key — the
    * candidate pairs are only strings that agree on some key; (3)
    * distinct the candidate pairs, then confirm with one codegen'd
    * `levenshtein` per candidate. Work is O(n·len²) keys + candidates,
    * never n² — the FastSS/SymSpell pattern. The DuckDB oracle computes
    * the naive quadratic semantics; blocking completeness makes them
    * provably equal.
    */
  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n"))
    val keyed = names
      .select(col("name"), col("n"), explode(delNbhd("name")).as("k"))
    keyed.as("a").join(keyed.as("b"), Seq("k"))
      .filter(col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("a.n").as("n_a"),
        col("b.name").as("name_b"), col("b.n").as("n_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= FuzzyTau)
      .orderBy("name_a", "name_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_unique" -> (qUnique(_, _)),
    "q_drop_dup_min" -> (qDropDupMin(_, _)),
    "q_drop_dup_sum" -> (qDropDupSum(_, _)),
    "q_drop_dup_prod" -> (qDropDupProd(_, _)),
    "q_drop_dup_first" -> (qDropDupFirst(_, _)),
    "q_dedup_exact" -> (qDedupExact(_, _)),
    "q_dedup_paragraph" -> (qDedupParagraph(_, _)),
    "q_fuzzy_join" -> (qFuzzyJoin(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_unique" ->
      "SELECT DISTINCT l_quantity FROM lineitem ORDER BY l_quantity",
    "q_drop_dup_min" ->
      """SELECT l_orderkey, l_linenumber,
        |  min(l_quantity) AS l_quantity,
        |  min(l_extendedprice) AS l_extendedprice
        |FROM lineitem GROUP BY l_orderkey, l_linenumber
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_drop_dup_sum" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${Q.sqlDsum("l_quantity")} AS sum_qty,
         |  max(l_extendedprice) AS max_price
         |FROM lineitem GROUP BY l_orderkey, l_linenumber
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_drop_dup_prod" ->
      """SELECT l_orderkey, l_linenumber,
        |  product(l_quantity) AS prod_qty,
        |  min(l_extendedprice) AS min_price
        |FROM lineitem GROUP BY l_orderkey, l_linenumber
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_drop_dup_first" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY l_quantity ASC, l_extendedprice ASC) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_dedup_paragraph" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |seg AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(words[(i * $ParaWords + 1):(i * $ParaWords + $ParaWords)], ' ') AS seg
         |  FROM w, LATERAL unnest(generate_series(0,
         |    greatest(CAST(ceil(len(words) / $ParaWords.0) AS INT), 1) - 1)) AS t(i)),
         |occ AS (SELECT doc_id, seg_idx, seg, md5(seg) AS h,
         |    doc_id * 100000 + seg_idx AS occ_key FROM seg),
         |keeper AS (SELECT h, min(occ_key) AS keep_key FROM occ GROUP BY h),
         |kept AS (SELECT o.doc_id, o.seg_idx, o.seg
         |  FROM occ o JOIN keeper k ON o.h = k.h AND o.occ_key = k.keep_key)
         |SELECT doc_id, count(*) AS n_kept,
         |  md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_hash,
         |  CAST(length(string_agg(seg, ' ' ORDER BY seg_idx)) AS INTEGER) AS n_chars_clean
         |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_fuzzy_join" ->
      s"""WITH n AS (SELECT p_name AS name, count(*) AS n FROM part GROUP BY 1)
         |SELECT a.name AS name_a, a.n AS n_a, b.name AS name_b, b.n AS n_b,
         |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
         |FROM n a JOIN n b ON a.name < b.name
         |WHERE levenshtein(a.name, b.name) <= $FuzzyTau
         |ORDER BY name_a, name_b""".stripMargin)
}
