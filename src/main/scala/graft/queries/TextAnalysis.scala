package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** LLM-pipeline text analysis over `documents` (beyond-reference suite;
  * builder brief + SURVEY.md §7.4): token counting, quality scoring,
  * language ID, document fingerprinting.
  *
  * Everything is codegen'd `functions._` / higher-order array
  * expressions over a single scan — no UDFs, no shuffle except the
  * final presentation sort, so each of these streams at parquet-scan
  * speed at any scale. Ratios are single double divisions of exact
  * integer counts — bit-deterministic across engines.
  */
object TextAnalysis extends QueryModule {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Token counting: whitespace tokens + regex word tokens (the BPE-ish
    * pre-tokenizer split `[a-z]+|[0-9]`).
    */
  /** Vocabulary build — the corpus-wide word-frequency table every
    * tokenizer-training pipeline starts from: explode → one hash
    * aggregate (partial map-side, shuffle carries (word, count) pairs —
    * far smaller than the corpus) → top 100 by frequency with a total
    * tie-break. At 100 TB the same plan holds; only the tiny top-k
    * passes the final single-partition TakeOrdered.
    */
  def qTextVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(100)

  /** Vocabulary sizes at which coverage is reported — tokenizer-design
    * telemetry (how big must the vocab be before the OOV rate is
    * acceptable).
    */
  private val VocabSizes = Seq(100, 1000, 5000)

  /** Vocabulary coverage / out-of-vocabulary telemetry: for each
    * candidate vocab size V, the corpus-token share covered by the top
    * V words (count desc, word asc — a total order, so the cut is
    * deterministic cross-engine). Each top-V plans as
    * TakeOrderedAndProject + a scalar sum — never a global rank window
    * over the full vocabulary, which is the scan that would collapse to
    * one partition at a 10^8-word vocab. Exact integer sums, one double
    * division per row.
    */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("n"))
    val total = toks.agg(count(lit(1)).as("total_tokens"))
    val perV = VocabSizes.map { v =>
      vocab.orderBy(col("n").desc, col("word")).limit(v)
        .agg(sum(col("n")).as("covered"))
        .select(lit(v).as("vocab_size"), col("covered"))
    }.reduce(_ unionAll _)
    perV.crossJoin(broadcast(total))
      .select(col("vocab_size"), col("covered"), col("total_tokens"),
        (lit(1.0) - col("covered").cast("double") / col("total_tokens"))
          .as("oov_rate"))
      .orderBy("vocab_size")
  }

  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]")).as("n_re_tokens"),
        length(col("text")).as("n_chars_actual"))
      .orderBy("doc_id")

  /** Quality scoring: length, punctuation count, stopword ratio, mean
    * word length, and a composite score.
    */
  def qTextQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        regexp_count(col("text"), lit("[.,!?;:]")).as("n_punct"),
        size(col("words")).as("n_words"),
        expr(s"size(filter(words, w -> w IN ${inList(stopwords)}))").as("n_stop"),
        (expr(s"size(filter(words, w -> w IN ${inList(stopwords)}))")
          / size(col("words"))).as("stop_ratio"),
        (expr("aggregate(transform(words, w -> length(w)), 0, (a, x) -> a + x)")
          / size(col("words"))).as("mean_word_len"))
      .orderBy("doc_id")

  /** Gopher-style quality RULE BATTERY — the published heuristic-filter
    * shape (Rae et al. 2021 Gopher §A.1.1; reused by Dolma/FineWeb):
    * each rule is an independent boolean column, the verdict their
    * conjunction, so a curation run can report per-rule attrition (which
    * rule kills how many docs) instead of one opaque gate. Rules here
    * are the subset expressible over single-line synthetic text — word
    * count bounds, mean word length bounds, stopword floor, repeated
    * -word ceiling, alphabetic-word floor — each spelled in EXACT
    * integer arithmetic (`3·n ≤ Σlen` instead of a float mean) so the
    * verdict is bit-deterministic on any engine.
    *
    * Shape: explode → (doc, word) count agg → per-doc agg — the same
    * two hash aggregates as the TF pipeline; shuffle carries
    * (doc, word, count) triples, map-side combined. The max-word
    * -frequency rule is why the word-level agg exists at all: a
    * higher-order fold cannot group-count inside a row.
    */
  def qGopherRules(s: SparkSession, dir: String): DataFrame = {
    val perWord = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    perWord.groupBy("doc_id").agg(
        sum(col("c")).as("n_words"),
        max(col("c")).as("max_wf"),
        sum(col("c") * length(col("w"))).as("sum_len"),
        sum(when(col("w").isin(stopwords: _*), col("c")).otherwise(lit(0L)))
          .as("n_stop"),
        sum(when(col("w").rlike("^[a-zA-Z]+$"), col("c")).otherwise(lit(0L)))
          .as("n_alpha"))
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 30 && col("n_words") <= 100000).as("r_word_count"),
        (col("sum_len") >= col("n_words") * 3
          && col("sum_len") <= col("n_words") * 10).as("r_mean_word_len"),
        (col("n_stop") >= 2).as("r_stopwords"),
        (col("max_wf") * 5 <= col("n_words")).as("r_dup_word"),
        (col("n_alpha") * 10 >= col("n_words") * 9).as("r_alpha"))
      .withColumn("verdict",
        col("r_word_count") && col("r_mean_word_len") && col("r_stopwords")
          && col("r_dup_word") && col("r_alpha"))
      .orderBy("doc_id")
  }

  /** Marker word lists per language — shared by langid and the corpus
    * clean pipeline.
    */
  private[queries] val langMarkers = Map(
    "en" -> Seq("the", "and", "of"),
    "fr" -> Seq("le", "la", "et"),
    "de" -> Seq("der", "und", "die"),
    "es" -> Seq("el", "los", "y"))

  /** Per-language marker-hit score columns over a `words` array column. */
  private[queries] def langScoreCols: Seq[org.apache.spark.sql.Column] =
    langMarkers.toSeq.sortBy(_._1).map { case (l, ws) =>
      expr(s"size(filter(words, w -> w IN ${inList(ws)}))").as(s"s_$l")
    }

  /** Argmax language with the fixed en→fr→de→es tie-break, from the
    * s_en/s_fr/s_de/s_es score columns.
    */
  private[queries] def langPred: org.apache.spark.sql.Column =
    when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de")
      && col("s_en") >= col("s_es"), "en")
      .when(col("s_fr") >= col("s_de") && col("s_fr") >= col("s_es"), "fr")
      .when(col("s_de") >= col("s_es"), "de")
      .otherwise("es")

  /** Language ID by stopword-marker voting with a fixed tie-break order —
    * the n-gram-heuristic shape (count marker hits per language, argmax).
    */
  def qTextLangid(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(Seq(col("doc_id"), col("lang")) ++ langScoreCols: _*)
    scored
      .withColumn("pred", langPred)
      .withColumn("hit", col("pred") === col("lang"))
      .orderBy("doc_id")
  }

  /** Characteristic char trigrams per language for the n-gram language
    * ID variant (space-padded articles are strong signals).
    */
  private val triProfiles = Seq(
    "de" -> Seq("der", "und", "ein"),
    "en" -> Seq("the", "ing", "nd "),
    "es" -> Seq(" el", "los", "ción"),
    "fr" -> Seq(" le", "ent", "eau"))

  /** Exact substring occurrence count via length arithmetic — identical
    * in Spark and DuckDB, no regex escaping concerns.
    */
  private def occurrences(textCol: String, needle: String): String = {
    val lit = needle.replace("'", "''")
    s"CAST((length($textCol) - length(replace($textCol, '$lit', ''))) / ${needle.length} AS BIGINT)"
  }

  /** Language ID by CHARACTER n-gram profile voting (the n-gram
    * heuristic proper, beside the word-marker variant): per-language
    * score = total occurrences of its characteristic trigrams in the
    * lowercased text; argmax with the fixed de→en→es→fr tie-break.
    * Map-only length arithmetic — no regex, no explode.
    */
  def qTextLangidNgram(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .withColumn("lo", lower(col("text")))
      .select(
        Seq(col("doc_id"), col("lang")) ++
          triProfiles.map { case (l, ts) =>
            expr(ts.map(occurrences("lo", _)).mkString(" + ")).as(s"t_$l")
          }: _*)
    scored
      .withColumn("pred",
        when(col("t_de") >= col("t_en") && col("t_de") >= col("t_es")
          && col("t_de") >= col("t_fr"), "de")
          .when(col("t_en") >= col("t_es") && col("t_en") >= col("t_fr"), "en")
          .when(col("t_es") >= col("t_fr"), "es")
          .otherwise("fr"))
      .withColumn("hit", col("pred") === col("lang"))
      .orderBy("doc_id")
  }

  /** Chunk geometry: windows of [[ChunkSize]] words every [[ChunkStride]]
    * words (10-word overlap) — the context-length-bound split a training
    * pipeline applies before tokenization.
    */
  private val ChunkSize = 50
  private val ChunkStride = 40

  /** Document chunking: overlapping word windows, one output row per
    * chunk. Map-only (`posexplode` over an in-row transform) — streams
    * at scan speed; chunk count per doc = ⌈max(n−overlap,1)/stride⌉.
    */
  def qTextChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n", size(col("words")))
      .withColumn("chunks", expr(
        s"""transform(
           |  sequence(0, CAST(ceil(greatest(n - ${ChunkSize - ChunkStride}, 1)
           |                        / $ChunkStride) AS INT) - 1),
           |  i -> array_join(slice(words, i * $ChunkStride + 1, $ChunkSize), ' '))""".stripMargin))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_idx", "chunk")))
      .withColumn("n_chunk_words", size(split(col("chunk"), " ")))
      .orderBy("doc_id", "chunk_idx")

  /** Top TF-IDF terms per document (for doc_id < 50; document
    * frequencies over the WHOLE corpus). The idf is the rational
    * (N+1)/(df+1) — rank-equivalent to the log form within a corpus and
    * exactly reproducible cross-engine (the score is one double division
    * of exact integers; `ln` differs in the last ulp between libm and
    * the JVM, which flips ranks on near-ties).
    *
    * Scale: tf is a hash aggregate over exploded tokens with map-side
    * partials; df the same over (doc, term) distincts; the tf⋈df join
    * shuffles on the term key only for the probed documents (the tf
    * side prunes to doc_id < 50 before the join); the corpus size joins
    * in as a broadcast scalar. Per-doc top-k is a partitioned window.
    */
  def qTextTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val tokens = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tokens.filter(col("doc_id") < 50)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tokens.distinct().groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * (col("n_docs") + 1)).cast("double") / (col("df") + 1))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the content-defined fingerprint used for near-exact dedup.
    */
  def qTextFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprint via the custom codegen'd
    * [[graft.functions.RollingHash]] expression — min Karp–Rabin hash
    * over 8-char windows; stable under edits away from the minimizing
    * window.
    */
  def qTextRollhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.rollhash(col("text")).as("rh"))
      .orderBy("doc_id")

  /** Character-class mix per document — the script/charset profile a
    * cleaning pipeline uses to catch binary junk, code masquerading as
    * prose, and wrong-script contamination before language ID runs.
    * Four disjoint classes (letters, digits, whitespace, punctuation)
    * plus the remainder; each count is `n − length(class stripped)`,
    * computed by codegen'd regexp_replace with identical regex classes
    * on both engines, and every fraction is a single division of exact
    * integer counts. Map-only over the text scan — no shuffle, no
    * explode; the per-doc work is four linear regex passes.
    */
  def qTextCharclass(s: SparkSession, dir: String): DataFrame = {
    def cnt(cls: String) =
      (length(col("text")) - length(regexp_replace(col("text"), cls, "")))
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        cnt("[A-Za-z]").as("n_alpha"), cnt("[0-9]").as("n_digit"),
        cnt("\\s").as("n_space"), cnt("[.,!?;:'\"()-]").as("n_punct"))
      .withColumn("n_other",
        col("n_chars") - col("n_alpha") - col("n_digit")
          - col("n_space") - col("n_punct"))
      .select(col("doc_id"), col("n_chars"),
        (col("n_alpha").cast("double") / col("n_chars")).as("alpha_frac"),
        (col("n_digit").cast("double") / col("n_chars")).as("digit_frac"),
        (col("n_space").cast("double") / col("n_chars")).as("space_frac"),
        (col("n_punct").cast("double") / col("n_chars")).as("punct_frac"),
        (col("n_other").cast("double") / col("n_chars")).as("other_frac"))
      .orderBy("doc_id")
  }

  /** Hashing-trick linear quality classifier — the fasttext-style
    * model-scored filter every modern corpus pipeline runs (quality
    * classifiers in the GPT-3/LLaMA data recipes): each token hashes
    * into a weight bucket (the hashing trick replaces an explicit
    * vocabulary→weight table), the document score is the mean bucket
    * weight, and the label thresholds the score. Weights here are
    * DERIVED from the hash itself (a deterministic stand-in for trained
    * parameters — the plumbing, not the training, is the operator);
    * swapping in trained weights is a broadcast lookup join on the same
    * bucket id.
    *
    * All arithmetic is integer until the final division: bucket =
    * md5-derived BIGINT (the same cross-engine hash family as the
    * minhash oracle), weight = bucket % 2001 − 1000 ∈ [−1000, 1000]
    * milli-units, summed per document INSIDE a higher-order `aggregate`
    * over the token array — map-only, no explode, no shuffle, exact on
    * both engines. At 100 TB this streams at parquet-scan speed.
    */
  def qQualityClassifier(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), size(col("words")).as("n_tokens"),
        expr("aggregate(transform(words, w -> " +
          "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % 1000003 % 2001 - 1000), " +
          "cast(0 as bigint), (a, x) -> a + x)").as("w_sum"))
      .select(col("doc_id"), col("n_tokens"), col("w_sum"),
        (col("w_sum").cast("double") / (col("n_tokens") * lit(1000.0))).as("score"))
      .withColumn("keep", col("score") > 0.0)
      .orderBy("doc_id")

  /** Heavy-hitter support φ: a bigram is "heavy" iff cnt·1000 > total
    * bigram occurrences (φ = 0.1%). Integer arithmetic on both engines —
    * no float threshold to diverge on.
    */
  private val HhDenom = 1000L

  /** Bigram POSITION generator: indices 0..n−2 for n words. The CASE
    * guard matters: Spark's `sequence(0, -1)` DESCENDS ([0, -1]) rather
    * than being empty, so a 1-word doc must short-circuit to an empty
    * array explicitly. The bigram STRING is built AFTER the explode with
    * a plain codegen'd `concat` over `words[i]` — measured 15× faster at
    * sf0.1 than exploding a `transform`-built string array (a generator
    * fed by a higher-order-function result evaluates the lambda
    * interpreted and copies the built array outside whole-stage codegen;
    * exploding a tiny int `sequence` keeps the whole path codegen'd).
    */
  private val bigramIdxExpr =
    "CASE WHEN size(words) < 2 THEN array() ELSE sequence(0, size(words) - 2) END"

  /** Minimum pair support for PMI ranking (the standard guard against
    * PMI's rare-pair bias: a hapax pair maximizes the ratio).
    */
  private val PmiMinSupport = 5L
  private val PmiTopK = 20

  /** Top-[[PmiTopK]] collocations by pointwise mutual information —
    * the association complement of [[qHeavyHitters]] (which ranks by
    * raw frequency, PMI ranks by lift over independence). All ranking
    * decisions exact: with N = total bigram events, cl/cr the left/
    * right marginals, the PMI order is the order of c_ab·N/(cl·cr),
    * ranked as the integer-quantized r = ⌊10⁶·c_ab·N/(cl·cr)⌋ with a
    * (w1, w2) tie-break — no log in any comparison (log is monotone).
    * Shape: one bigram hash agg (map-side partials; shuffle = distinct
    * pairs), two vocabulary-sized marginal aggregates joined back
    * (broadcast at any realistic vocab), scalar N attached by a 1-row
    * cross join, top-k as TakeOrderedAndProject.
    */
  def qCollocationsPmi(s: SparkSession, dir: String): DataFrame = {
    // The explicit isNotNull filter is a semantic no-op (words[i] for
    // i ≤ size−2 is never null) but load-bearing for the PLAN: the
    // `pairs` subtree is cloned four times (pairs/left/right/n), and
    // without it the two inner joins push DIFFERENT inferred
    // isnotnull(w1)/isnotnull(w2) filters into each clone — the clones
    // stop canonicalizing equal and AQE stage reuse dies, re-running
    // the corpus scan + bigram explode + pair aggregate 4×. With it,
    // all four clones share ONE ShuffleQueryStage (verified in the
    // final adaptive plan: one scan, three ReusedQueryStage readers).
    val bg = Tables.documents(s, dir)
      .select(split(col("text"), " ").as("words"))
      .select(col("words"), explode(expr(bigramIdxExpr)).as("i"))
      .select(expr("words[i]").as("w1"), expr("words[i + 1]").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val pairs = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val left = pairs.groupBy("w1").agg(sum(col("c_ab")).as("cl"))
    val right = pairs.groupBy("w2").agg(sum(col("c_ab")).as("cr"))
    val n = pairs.agg(sum(col("c_ab")).as("n_bg"))
    pairs
      .join(broadcast(left), Seq("w1"))
      .join(broadcast(right), Seq("w2"))
      .crossJoin(broadcast(n))
      .filter(col("c_ab") >= PmiMinSupport)
      // c_ab·N·10⁶ passes int64 once the corpus holds ~10⁹ bigrams with
      // a frequent pair, where non-ANSI Spark would silently wrap (and
      // corrupt the top-k order) while the oracle throws — so the rank
      // numerator is carried in DECIMAL(38,0) (HUGEINT in the oracle)
      // and only the quantized quotient comes back to BIGINT.
      .withColumn("r", expr(
        "CAST((CAST(c_ab AS DECIMAL(38,0)) * n_bg * 1000000) DIV (cl * cr) AS BIGINT)"))
      .select("w1", "w2", "c_ab", "cl", "cr", "r")
      .orderBy(col("r").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  private val Bm25Terms = Seq("customer", "join", "window")
  private val Bm25TopK = 10

  /** The N-query retrieval workload ([[qBm25Multi]]) — one definition
    * feeds the Spark broadcast table AND the oracle's VALUES list.
    * Query 0 is [[Bm25Terms]] verbatim, so the single-query ranking is
    * a projection of the multi-query result by construction.
    */
  private val MultiQueries: Seq[(Int, Seq[String])] = Seq(
    0 -> Bm25Terms,
    1 -> Seq("hash", "merge", "sort"),
    2 -> Seq("stream", "window", "batch", "data"),
    3 -> Seq("vector", "scan"),
    4 -> Seq("slow", "query", "filter"))

  /** The exact-integer BM25 per-term micro-score (see [[qBm25Search]]
    * scaladoc for the derivation) — ONE spelling for both engines,
    * parameterized on the int-division operator (`DIV` vs `//`) and the
    * wide-decimal type name.
    */
  private def microScore(div: String, wide: String): String =
    s"""CAST((CAST(2*n_docs - 2*df + 1 AS $wide) * 22 * tf * tl
       |       * 1000000)
       |  $div (CAST(2*df + 1 AS $wide)
       |       * (10*tl*tf + 3*tl + 9*dl*n_docs)) AS BIGINT)""".stripMargin

  /** BM25-shaped retrieval scoring: top-[[Bm25TopK]] documents for a
    * fixed [[Bm25Terms]] conjunctive-ish query — the ranking half of a
    * search index over the corpus (the tf·idf probe above reports
    * per-doc salient terms; this ranks DOCS for a query, with BM25's
    * saturation and length normalization, k1=1.2, b=0.75).
    *
    * Cross-engine exactness: no `ln` in any comparison (libm vs JVM
    * differ in the last ulp, which flips ranks on near-ties). The IDF
    * is carried as the exact rational (N−df+½)/(df+½) =
    * (2N−2df+1)/(2df+1) — per-term rank-equivalent to the log form
    * (log is monotone; the cross-term sum weights rare terms harder
    * than log-BM25, documented as this operator's scoring function).
    * The per-term factor tf(k1+1)/(tf + k1(1−b+b·len·N/TL)) clears its
    * denominators by 10·TL, giving the integer micro-score
    *
    *   s = ⌊10⁶·(2N−2df+1)·22·tf·TL / ((2df+1)·(10·TL·tf+3·TL+9·len·N))⌋
    *
    * carried in DECIMAL(38,0) (HUGEINT in the oracle): at web scale
    * (N~10¹⁰ docs, TL~10¹³ tokens) the numerator peaks ~10³³ — inside
    * DECIMAL(38,0), far past int64 where non-ANSI Spark would silently
    * wrap. Doc scores are exact integer SUMS of per-term micro-scores,
    * so the top-k order is reproducible bit-for-bit on any engine.
    *
    * Scale shape: the query-term IN-list filters the exploded tokens
    * BEFORE any shuffle (only query-term occurrences leave the scan —
    * shuffle ∝ hits, not corpus); df is a window count over tf; the
    * query-term table and the N/TL scalar row are broadcast; per-doc
    * lengths are map-only; top-k is TakeOrderedAndProject. A standing
    * inverted index (the posting-artifact pattern) replaces the token
    * scan when the query rate amortizes the build — same plan from the
    * join on.
    */
  def qBm25Search(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** The full BM25 score table (doc_id, n_hit, score) for [[Bm25Terms]]
    * — shared by the plain ranking and the hybrid-retrieval rerank. It
    * is the multi-query pipeline restricted to query 0.
    */
  private[queries] def bm25Scores(s: SparkSession, dir: String): DataFrame =
    bm25ByQuery(s, dir, MultiQueries.take(1)).select("doc_id", "n_hit", "score")

  /** The BM25 score table (query_id, doc_id, n_hit, score) of a query
    * workload in ONE corpus pass: the query table broadcasts, the token
    * scan filters to the union of all query terms before any shuffle
    * (shuffle ∝ hits, never corpus), and tf/df compute once per distinct
    * term and fan out to queries through the broadcast join.
    */
  private def bm25ByQuery(s: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val qterms = queries
      .flatMap { case (q, ts) => ts.map(t => (q.toLong, t)) }
      .toDF("query_id", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val hits = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(allTerms: _*))
    val tf = hits.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df DERIVES from tf — one row per distinct (doc, term) by
    // construction, so a per-term row count over tf ≡ the old
    // distinct().groupBy(term) over raw hits (exact same counts).
    // Spelled as an unbounded window COUNT so it attaches in place:
    // the r13 aggregate + broadcast-join-back spelling cloned the tf
    // subtree, and the clones always re-specialized under column
    // pruning / inferred-filter pushdown (no stage reuse) — the corpus
    // was scanned and token-exploded TWICE. Now: one scan, one explode,
    // one hits-sized exchange on term (guide §2.4).
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val tot = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tl"))
    withDf.join(broadcast(qterms), "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("s_micro", expr(microScore("DIV", "DECIMAL(38,0)")))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum(col("s_micro")).as("score"))
  }

  /** PARAMETERIZED multi-query BM25 — [[qBm25Search]] generalized from
    * one fixed term list to an N-query workload in ONE corpus pass
    * ([[bm25ByQuery]] over the [[MultiQueries]] table, which is
    * metadata-sized by contract), and per-query top-k is one window
    * partitioned by query_id. Adding a query adds broadcast rows, not
    * corpus passes — the shape that serves a whole eval-suite's
    * retrieval queries at 100 TB for the cost of one scan. Scoring is
    * the same exact-integer micro-score, so per-query rankings replay
    * bit-for-bit (query 0 ≡ q_bm25_search's ranking by construction).
    */
  def qBm25Multi(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    bm25ByQuery(s, dir, MultiQueries)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Bm25TopK)
      .select("query_id", "doc_id", "n_hit", "score", "rank")
      .orderBy("query_id", "rank")
  }

  /** HYBRID retrieval — the two-stage ranking a production search/RAG
    * pipeline runs: lexical BM25 recall (top-[[HybridCandK]] candidates
    * by the exact-integer score, total-ordered by (score, doc_id)) then
    * a semantic RERANK of just those candidates by exact
    * quantized-integer cosine against the query document's embedding
    * (vec 0 — the "more like this" query), final top-[[Bm25TopK]] by
    * (cos, bm25, doc_id). Both stages reuse the standing artifacts the
    * separate queries maintain (token scan → posting pattern; the
    * memoized quantized-vector table), and the rerank touches ONLY the
    * candidate vectors: the broadcast candidate list prunes the
    * embedding scan, so stage-2 cost is O(candidates), never O(corpus)
    * — the property that makes reranking affordable at any scale.
    */
  def qHybridSearch(s: SparkSession, dir: String): DataFrame =
    hybridScored(s, dir)
      .orderBy(col("cos").desc, col("bm25_micro").desc, col("doc_id"))
      .limit(Bm25TopK)
      .select("doc_id", "n_hit", "bm25_micro", "cos")

  /** The scored candidate table both hybrid rankers consume: BM25
    * top-[[HybridCandK]] candidates decorated with the exact quantized
    * cosine against the query document's (vec 0) embedding.
    */
  private def hybridScored(s: SparkSession, dir: String): DataFrame = {
    val cand = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(HybridCandK)
      .withColumnRenamed("score", "bm25_micro")
    val emb = Similarity.quantized(s, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("qv").as("qe"), col("n2").as("qn2"))
    broadcast(cand)
      .join(emb, cand("doc_id") === emb("vec_id"))
      .crossJoin(broadcast(qv))
      .filter(col("doc_id") =!= 0)
      .withColumn("cos", graft.functions.GraftFunctions.dotl(col("qe"), col("qv"))
        .cast("double") / (sqrt(col("qn2").cast("double")) * sqrt(col("n2").cast("double"))))
  }

  /** Reciprocal-rank FUSION of the two hybrid stages — the standard
    * rank-level combiner (Cormack et al.: rrf = Σ 1/(60 + rankᵢ)) used
    * when lexical and semantic scores live on incomparable scales.
    * Both rank windows run over the CANDIDATE table only (≤
    * [[HybridCandK]] rows — the single-partition window is bounded by
    * the candidate budget, never the corpus), ranks are exact integers
    * with doc_id tie-breaks, and the fused score is the same two
    * integer divisions on any engine — bit-deterministic.
    */
  def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = hybridScored(s, dir)
    val rBm = row_number().over(
      Window.orderBy(col("bm25_micro").desc, col("doc_id")))
    val rCos = row_number().over(
      Window.orderBy(col("cos").desc, col("doc_id")))
    scored
      .withColumn("r_bm25", rBm)
      .withColumn("r_cos", rCos)
      .withColumn("rrf",
        lit(1.0) / (lit(60) + col("r_bm25")) + lit(1.0) / (lit(60) + col("r_cos")))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(Bm25TopK)
      .select("doc_id", "r_bm25", "r_cos", "rrf")
  }

  private val HybridCandK = 50

  /** Corpus-wide heavy hitters (frequent bigram collocations) via the
    * TWO-PHASE pigeonhole pattern — the way to find every term above a
    * support threshold at 100 TB WITHOUT shuffling the long tail:
    *
    *  - Phase 1 (map-only, zero shuffle): each partition counts its own
    *    bigrams in a local hash map and emits only those with
    *    local·P·1000 > total — by pigeonhole, any bigram with global
    *    cnt·1000 > total must exceed total/(1000·P) in at least one of
    *    the P partitions, so the candidate set is a provable superset
    *    of the true heavy hitters. Candidate volume is bounded by
    *    P·1000/1 regardless of corpus size; the tail (here 916 distinct,
    *    at 100 TB billions) never leaves its partition.
    *  - Phase 2 (exact): explode → broadcast-semi-join against the tiny
    *    candidate set BEFORE the aggregate, so the one shuffle carries
    *    only candidate occurrences; exact counts then apply the same
    *    integer threshold. False candidates die here — the result is
    *    exact for any partitioning (spec-asserted).
    *
    * The naive single groupBy is correct but shuffles one row per
    * distinct term per partition — at web scale that is the vocabulary
    * itself, dwarfing the answer. This is the Misra–Gries/space-saving
    * shape with an exact confirm pass.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // Total bigram occurrences = Σ max(n_words − 1, 0): pure column
    // arithmetic, no array materialization at all.
    val total = graft.Caches.memoSide(s, dir, "bigram_total")(docs
      .agg(sum(greatest(size(split(col("text"), " ")) - 1, lit(0)).cast("long")))
      .first().getLong(0))
    // Phase 1 splits driver-side text in the closure (String.split with
    // limit −1 ≡ Spark's split on the same pattern): the String encoder
    // deserializes an order of magnitude faster than Seq[String], and
    // building bigrams in the loop skips the SQL array entirely.
    val texts = docs.select("text").as[String].rdd
    val p = texts.getNumPartitions.toLong
    val cand = texts.mapPartitions { it =>
      val m = new java.util.HashMap[String, Long]()
      it.foreach { t =>
        val w = t.split(" ", -1)
        var i = 0
        while (i < w.length - 1) { m.merge(w(i) + " " + w(i + 1), 1L, _ + _); i += 1 }
      }
      m.entrySet().iterator().asScala.collect {
        case e if e.getValue * p * HhDenom > total => e.getKey
      }
    }.toDF("bg").distinct()
    docs.select(split(col("text"), " ").as("words"))
      .select(col("words"), explode(expr(bigramIdxExpr)).as("i"))
      .select(concat(expr("words[i]"), lit(" "), expr("words[i + 1]")).as("bg"))
      .join(broadcast(cand), "bg")
      .groupBy("bg").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HhDenom > total)
      .orderBy(col("cnt").desc, col("bg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_heavy_hitters" -> (qHeavyHitters(_, _)),
    "q_collocations_pmi" -> (qCollocationsPmi(_, _)),
    "q_bm25_search" -> (qBm25Search(_, _)),
    "q_bm25_multi" -> (qBm25Multi(_, _)),
    "q_hybrid_search" -> (qHybridSearch(_, _)),
    "q_rrf_fusion" -> (qRrfFusion(_, _)),
    "q_quality_classifier" -> (qQualityClassifier(_, _)),
    "q_text_charclass" -> (qTextCharclass(_, _)),
    "q_text_tfidf" -> (qTextTfidf(_, _)),
    "q_text_chunks" -> (qTextChunks(_, _)),
    "q_text_langid_ngram" -> (qTextLangidNgram(_, _)),
    "q_text_rollhash" -> (qTextRollhash(_, _)),
    "q_text_tokens" -> (qTextTokens(_, _)),
    "q_text_vocab" -> (qTextVocab(_, _)),
    "q_vocab_coverage" -> (qVocabCoverage(_, _)),
    "q_text_quality" -> (qTextQuality(_, _)),
    "q_gopher_rules" -> (qGopherRules(_, _)),
    "q_text_langid" -> (qTextLangid(_, _)),
    "q_text_fingerprint" -> (qTextFingerprint(_, _)))

  private val stopSql = inList(stopwords)

  /** Shared BM25 oracle CTE chain ending in `scored(doc_id, n_hit,
    * score)` — the DuckDB spelling of [[bm25Scores]].
    */
  private lazy val sqlBm25Ctes: String =
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |    FROM documents),
       |  lens AS (SELECT doc_id,
       |      CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |    FROM documents),
       |  tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |      CAST(sum(dl) AS BIGINT) AS tl FROM lens),
       |  hits AS (SELECT doc_id, term FROM tok
       |    WHERE term IN ${inList(Bm25Terms)}),
       |  tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |    FROM hits GROUP BY doc_id, term),
       |  dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |    FROM hits GROUP BY term),
       |  scored AS (SELECT doc_id, count(*) AS n_hit,
       |    CAST(sum(${microScore("//", "HUGEINT")})
       |      AS BIGINT) AS score
       |  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id), tot
       |  GROUP BY doc_id)""".stripMargin

  /** Shared hybrid-retrieval oracle: BM25 CTEs + candidate top-K +
    * quantized query/corpus vectors + `rr(doc_id, n_hit, bm25_micro,
    * cos)` — the DuckDB spelling of [[hybridScored]].
    */
  private lazy val sqlHybridCtes: String =
    s"""WITH $sqlBm25Ctes,
       |cand AS (SELECT doc_id, n_hit, score AS bm25_micro
       |  FROM scored ORDER BY score DESC, doc_id LIMIT $HybridCandK),
       |qe AS (SELECT
       |    list_transform(embedding, x ->
       |      CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qe
       |  FROM embeddings WHERE vec_id = 0),
       |ev AS (SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |rr AS (SELECT c.doc_id, c.n_hit, c.bm25_micro,
       |    CAST(list_sum(list_transform(range(0, 64),
       |      i -> ev.qv[i + 1] * qe.qe[i + 1])) AS DOUBLE)
       |      / (sqrt(CAST(list_sum(list_transform(qe.qe, v -> v * v)) AS DOUBLE))
       |         * sqrt(CAST(list_sum(list_transform(ev.qv, v -> v * v)) AS DOUBLE)))
       |      AS cos
       |  FROM cand c JOIN ev ON ev.vec_id = c.doc_id, qe
       |  WHERE c.doc_id <> 0)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_bm25_search" ->
      s"""WITH $sqlBm25Ctes
         |SELECT doc_id, n_hit, score FROM scored
         |ORDER BY score DESC, doc_id
         |LIMIT $Bm25TopK""".stripMargin,
    // the same exact-integer scoring, fanned out to the query table
    // (VALUES list interpolated from MultiQueries — one definition)
    "q_bm25_multi" -> {
      val vals = MultiQueries
        .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents),
         |lens AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |  FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS tl FROM lens),
         |qt AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
         |  FROM (VALUES $vals) AS v(query_id, term)),
         |hits AS (SELECT doc_id, term FROM tok
         |  WHERE term IN (SELECT DISTINCT term FROM qt)),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM hits GROUP BY doc_id, term),
         |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM hits GROUP BY term),
         |scored AS (SELECT qt.query_id, tf.doc_id, count(*) AS n_hit,
         |    CAST(sum(${microScore("//", "HUGEINT")})
         |      AS BIGINT) AS score
         |  FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
         |    JOIN lens USING (doc_id), tot
         |  GROUP BY qt.query_id, tf.doc_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score DESC, doc_id) AS INTEGER) AS rank FROM scored)
         |SELECT query_id, doc_id, n_hit, score, rank FROM r
         |WHERE rank <= $Bm25TopK
         |ORDER BY query_id, rank""".stripMargin
    },
    // Stage 1 = the identical BM25 CTE chain; stage 2 reranks only the
    // top-$HybridCandK candidates by exact quantized-integer cosine
    // against vec 0 (quantization spelling identical to Similarity's).
    "q_hybrid_search" ->
      s"""$sqlHybridCtes
         |SELECT doc_id, n_hit, bm25_micro, cos FROM rr
         |ORDER BY cos DESC, bm25_micro DESC, doc_id
         |LIMIT $Bm25TopK""".stripMargin,
    "q_rrf_fusion" ->
      s"""$sqlHybridCtes,
         |rk AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id)
         |      AS INTEGER) AS r_bm25,
         |    CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
         |      AS INTEGER) AS r_cos
         |  FROM rr)
         |SELECT doc_id, r_bm25, r_cos,
         |  CAST(1.0 AS DOUBLE) / (60 + r_bm25)
         |    + CAST(1.0 AS DOUBLE) / (60 + r_cos) AS rrf
         |FROM rk ORDER BY rrf DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    "q_gopher_rules" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |pw AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
         |a AS (SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_words,
         |    CAST(max(c) AS BIGINT) AS max_wf,
         |    CAST(sum(c * length(w)) AS BIGINT) AS sum_len,
         |    CAST(sum(CASE WHEN w IN $stopSql THEN c ELSE 0 END) AS BIGINT)
         |      AS n_stop,
         |    CAST(sum(CASE WHEN regexp_matches(w, '^[a-zA-Z]+$$')
         |      THEN c ELSE 0 END) AS BIGINT) AS n_alpha
         |  FROM pw GROUP BY doc_id)
         |SELECT doc_id, n_words,
         |  n_words >= 30 AND n_words <= 100000 AS r_word_count,
         |  sum_len >= n_words * 3 AND sum_len <= n_words * 10
         |    AS r_mean_word_len,
         |  n_stop >= 2 AS r_stopwords,
         |  max_wf * 5 <= n_words AS r_dup_word,
         |  n_alpha * 10 >= n_words * 9 AS r_alpha,
         |  (n_words >= 30 AND n_words <= 100000)
         |    AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
         |    AND n_stop >= 2 AND max_wf * 5 <= n_words
         |    AND n_alpha * 10 >= n_words * 9 AS verdict
         |FROM a ORDER BY doc_id""".stripMargin,
    "q_heavy_hitters" ->
      """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT ws[i + 1] || ' ' || ws[i + 2] AS bg
        |  FROM d, LATERAL unnest(generate_series(0, len(ws) - 2)) AS t(i)),
        |c AS (SELECT bg, count(*) AS cnt FROM b GROUP BY bg)
        |SELECT bg, cnt FROM c
        |WHERE cnt * 1000 > (SELECT count(*) FROM b)
        |ORDER BY cnt DESC, bg""".stripMargin,
    "q_collocations_pmi" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |b AS (SELECT ws[i + 1] AS w1, ws[i + 2] AS w2
         |  FROM d, LATERAL unnest(generate_series(0, len(ws) - 2)) AS t(i)),
         |p AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM b GROUP BY w1, w2),
         |lm AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS cl FROM p GROUP BY w1),
         |rm AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS cr FROM p GROUP BY w2),
         |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM p)
         |SELECT p.w1, p.w2, p.c_ab, lm.cl, rm.cr,
         |  CAST((CAST(p.c_ab AS HUGEINT) * n.n_bg * 1000000)
         |    // (lm.cl * rm.cr) AS BIGINT) AS r
         |FROM p JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN n
         |WHERE p.c_ab >= $PmiMinSupport
         |ORDER BY r DESC, w1, w2
         |LIMIT $PmiTopK""".stripMargin,
    "q_quality_classifier" ->
      """WITH s AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CAST(list_sum(list_transform(string_split(text, ' '),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % 1000003 % 2001 - 1000))
        |      AS BIGINT) AS w_sum
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, w_sum,
        |  CAST(w_sum AS DOUBLE) / (n_tokens * 1000.0) AS score,
        |  CAST(w_sum AS DOUBLE) / (n_tokens * 1000.0) > 0.0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_text_charclass" ->
      """WITH c AS (SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS n_chars,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS INTEGER) AS n_alpha,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER) AS n_digit,
        |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_space,
        |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()-]', '', 'g')) AS INTEGER) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(n_alpha AS DOUBLE) / n_chars AS alpha_frac,
        |  CAST(n_digit AS DOUBLE) / n_chars AS digit_frac,
        |  CAST(n_space AS DOUBLE) / n_chars AS space_frac,
        |  CAST(n_punct AS DOUBLE) / n_chars AS punct_frac,
        |  CAST(n_chars - n_alpha - n_digit - n_space - n_punct AS DOUBLE) / n_chars AS other_frac
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "q_text_vocab" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
        |      FROM documents)
        |WHERE len(word) > 0
        |GROUP BY word
        |ORDER BY n DESC, word
        |LIMIT 100""".stripMargin,
    "q_vocab_coverage" -> {
      val cuts = VocabSizes.map(v =>
        s"""SELECT $v AS vocab_size, CAST(sum(n) AS BIGINT) AS covered
           |  FROM (SELECT n FROM v ORDER BY n DESC, word LIMIT $v)""".stripMargin)
        .mkString("\n  UNION ALL ")
      s"""WITH tk AS (SELECT word FROM (
         |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
         |  WHERE len(word) > 0),
         |v AS (SELECT word, count(*) AS n FROM tk GROUP BY word),
         |t AS (SELECT count(*) AS total_tokens FROM tk),
         |c AS (
         |  $cuts)
         |SELECT c.vocab_size, c.covered, t.total_tokens,
         |  1.0 - CAST(c.covered AS DOUBLE) / t.total_tokens AS oov_rate
         |FROM c, t
         |ORDER BY vocab_size""".stripMargin
    },
    "q_text_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE doc_id < 50 GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
        |  GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (df.df + 1) AS score
        |  FROM tf JOIN df ON tf.term = df.term, n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term ASC) AS INTEGER) AS rank FROM sc)
        |SELECT doc_id, term, tf, df, score, rank FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // Mirrors RollingHashMath exactly: W=8, B=257, P=2^31−1,
    // Pow = [257^7..257^0] mod P, one mod per window, min over windows,
    // −1 when len < 8. Integer arithmetic ⇒ value-exact.
    "q_text_rollhash" -> {
      val pows = graft.functions.RollingHashMath.Pow.mkString("[", ", ", "]")
      s"""SELECT doc_id,
         |  CAST(CASE WHEN length(text) < ${graft.functions.RollingHashMath.W} THEN -1 ELSE (
         |    list_min(list_transform(range(0, length(text) - ${graft.functions.RollingHashMath.W - 1}), i ->
         |      list_sum(list_transform(range(0, ${graft.functions.RollingHashMath.W}), j ->
         |        CAST(ascii(substr(text, CAST(i + j + 1 AS INTEGER), 1)) AS BIGINT)
         |          * ($pows)[CAST(j + 1 AS INTEGER)]
         |      )) % ${graft.functions.RollingHashMath.P}))
         |  ) END AS BIGINT) AS rh
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_text_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id,
        |    list_transform(range(0,
        |        CAST(ceil(greatest(n - 10, 1) / 40.0) AS INTEGER)),
        |      i -> array_to_string(
        |        words[CAST(i * 40 + 1 AS INTEGER):CAST(i * 40 + 50 AS INTEGER)],
        |        ' ')) AS chunks
        |  FROM w),
        |u AS (SELECT doc_id,
        |    CAST(unnest(range(0, len(chunks))) AS INTEGER) AS chunk_idx,
        |    unnest(chunks) AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_idx, chunk,
        |  CAST(len(string_split(chunk, ' ')) AS INTEGER) AS n_chunk_words
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_text_langid_ngram" -> {
      val scoreCols = triProfiles.map { case (l, ts) =>
        ts.map(t => occurrences("lower(text)", t)).mkString(" + ") + s" AS t_$l"
      }.mkString(",\n  ")
      val predCase =
        """CASE WHEN t_de >= t_en AND t_de >= t_es AND t_de >= t_fr THEN 'de'
          |    WHEN t_en >= t_es AND t_en >= t_fr THEN 'en'
          |    WHEN t_es >= t_fr THEN 'es' ELSE 'fr' END""".stripMargin
      s"""WITH sc AS (SELECT doc_id, lang,
         |  $scoreCols
         |FROM documents)
         |SELECT doc_id, lang, t_de, t_en, t_es, t_fr,
         |  $predCase AS pred,
         |  ($predCase) = lang AS hit
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]')) AS INTEGER) AS n_re_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_actual
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INTEGER) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER) AS n_punct,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopSql)) AS INTEGER) AS n_stop,
         |  len(list_filter(string_split(text, ' '), w -> w IN $stopSql))
         |    / len(string_split(text, ' ')) AS stop_ratio,
         |  list_sum(list_transform(string_split(text, ' '), w -> length(w)))
         |    / len(string_split(text, ' ')) AS mean_word_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      """WITH sc AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','und','die'))) AS INTEGER) AS s_de,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','and','of'))) AS INTEGER) AS s_en,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','los','y'))) AS INTEGER) AS s_es,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et'))) AS INTEGER) AS s_fr
        |FROM documents)
        |SELECT doc_id, lang, s_de, s_en, s_es, s_fr,
        |  CASE
        |    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
        |    WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |    WHEN s_de >= s_es THEN 'de'
        |    ELSE 'es' END AS pred,
        |  (CASE
        |    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
        |    WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |    WHEN s_de >= s_es THEN 'de'
        |    ELSE 'es' END) = lang AS hit
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
