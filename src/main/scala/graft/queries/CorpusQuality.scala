package graft.queries

import graft.Tables
import graft.functions.GraftFunctions.{spanhashes, spanhashesPos}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level quality / curation operators a large-scale training-data
  * pipeline runs between raw crawl and tokenization (beyond-reference
  * suite; builder brief + SURVEY.md §7.4): repetition metrics, corpus
  * -frequency boilerplate detection, unigram-LM familiarity scoring,
  * source mixture weighting, and exact substring-span dedup.
  *
  * Shapes are scan → explode → hash-aggregate → (small) join: the
  * shuffle payload is always (key, count) pairs — shingle hashes, span
  * hashes, words — never document text, so each plan's shuffle volume is
  * a small multiple of the corpus token count regardless of document
  * size. All ratios are single double divisions of exact integer counts
  * — bit-deterministic across engines.
  */
object CorpusQuality extends QueryModule {

  override def prewarm(s: SparkSession, dir: String): Unit = {
    corpusDsirGrams(s, dir).count(); ()
  }

  /** The corpus's [[dsirGrams]], memoized: prep builds it, qDsirSelect reads it. */
  private def corpusDsirGrams(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "dsir_grams")(dsirGrams(Tables.documents(s, dir)))

  /** Gopher-style repetition signals: duplicate-word fraction and the
    * fraction of word-bigrams claimed by the single most frequent bigram
    * (high values flag machine-generated / boilerplate text). Distinct
    * counting happens in-row (array_distinct); the bigram mode is a
    * relational hash-agg + max, not an in-array mode computation, so the
    * heavy lifting stays in codegen'd hash aggregates.
    */
  def qTextRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .filter(col("n_words") >= 2)
    val base = docs.select(col("doc_id"), col("n_words"),
      size(array_distinct(col("words"))).as("n_distinct"))
    // Explode positions, build the bigram post-explode (codegen'd) —
    // see TextAnalysis.bigramIdxExpr for why exploding a transform-built
    // string array is 15× slower. n_words ≥ 2 here, so the sequence
    // ascends.
    val top = docs
      .select(col("doc_id"), col("words"),
        explode(expr("sequence(1, n_words - 1)")).as("i"))
      .select(col("doc_id"),
        concat(expr("element_at(words, i)"), lit(" "),
          expr("element_at(words, i + 1)")).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("top_bigram_n"))
    base.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_words")).as("dup_word_frac"),
        col("top_bigram_n"),
        (col("top_bigram_n").cast("double") / (col("n_words") - 1)).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** A shingle is "common" when > [[BoilerDf]] distinct documents
    * contain it; a document's common-shingle fraction is the
    * boilerplate signal (CCNet/RefinedWeb-style corpus-frequency line
    * removal, recast over 3-word shingle hashes since this corpus has
    * no line structure). Reads the dedup suite's MATERIALIZED posting
    * index ([[Fingerprints.postings]] — one (doc_id, h) row per
    * distinct document shingle, built once per corpus and shared by
    * every dedup/decontamination leg), so the only new work is one df
    * hash-agg over (h) and one join back: the shuffle carries (h, df)
    * pairs, never text. This is the 100 TB shape: boilerplate stats
    * fall out of the inverted index the pipeline already maintains.
    */
  private val BoilerDf = 2

  def qTextBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val post = Fingerprints.postings(s, dir).select("doc_id", "h")
    val dfreq = post.groupBy("h").agg(count(lit(1)).as("df"))
    post.join(dfreq, "h")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") > BoilerDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        (col("n_common").cast("double") / col("n_shingles")).as("common_frac"))
      .orderBy("doc_id")
  }

  /** Unigram-LM familiarity score — the cheap stand-in for perplexity
    * filtering: mean corpus frequency of a document's tokens,
    * Σ_t count(t) / (n_tokens · total_tokens). Exact integer sums with
    * one final double division, so the score is bit-identical on any
    * engine (a log-prob formulation would differ in libm's last ulp).
    * Scale: the vocab hash-agg shuffles (word, count); the token⋈vocab
    * join broadcasts nothing here but AQE picks broadcast when the
    * vocab side is small enough; the corpus total rides in as a
    * broadcast scalar.
    */
  def qTextUnigramScore(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cw"))
    val total = toks.agg(count(lit(1)).as("ct"))
    toks.join(vocab, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_toks"),
        sum(col("cw")).as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_toks"), col("sum_cnt"),
        (col("sum_cnt").cast("double") / (col("n_toks") * col("ct"))).as("familiarity"))
      .orderBy("doc_id")
  }

  /** Bigram-LM familiarity — the sequence-structure complement of
    * [[qTextUnigramScore]] and the log-free stand-in for perplexity
    * filtering (CCNet-style: score each document under a corpus LM,
    * gate on the score): mean add-one-smoothed transition probability
    * over a document's bigrams, p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V).
    * Each probability is rational, quantized as the integer
    * micro-probability ⌊10⁹·(c_ab+1)/(cl+V)⌋ — one DECIMAL(38,0) DIV
    * (HUGEINT in the oracle; c_ab·10⁹ passes int64 once a bigram
    * repeats ~10¹⁰ times at web scale) — and summed per doc as exact
    * integers, so the score is bit-identical on any engine (a log-prob
    * formulation would differ in libm's last ulp). A doc needs ≥ 2
    * tokens to have bigrams; shorter docs drop out (same rows both
    * engines, documented).
    *
    * Scale: one bigram hash agg (shuffle = distinct pairs) + a
    * vocabulary-sized left-marginal aggregate derived from it; the
    * occurrence⋈counts joins shuffle on the pair/word keys (AQE
    * broadcasts when the count side fits); V rides in as a broadcast
    * scalar; the per-doc sum is a doc-keyed hash agg.
    */
  def qTextBigramScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bg = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(0, size(ws) - 2)")).as("i"))
      .select(col("doc_id"), expr("ws[i]").as("w1"), expr("ws[i + 1]").as("w2"))
    val pairs = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val left = pairs.groupBy("w1").agg(sum(col("c_ab")).as("cl"))
    val vsize = docs.select(explode(split(col("text"), " ")).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    bg.join(pairs, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .crossJoin(broadcast(vsize))
      .withColumn("m", expr(
        "CAST((CAST(c_ab + 1 AS DECIMAL(38,0)) * 1000000000) DIV (cl + v) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("m")).as("score"))
      .withColumn("mean_micro", expr("score DIV n_bigrams"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled source mixture (α = 0.5): sampling weight per
    * source ∝ √count, plus the per-source document budget out of
    * [[MixBudget]]. The √count doubles are quantized to integer
    * micro-units BEFORE normalization, so the weight is a ratio of exact
    * integers — deterministic across engines — and the budgets sum to at
    * most the target by construction. One tiny aggregate; the per-source
    * table is dimension-sized at any corpus scale.
    */
  private val MixBudget = 100000L

  def qMixWeights(s: SparkSession, dir: String): DataFrame =
    mixWeights(Tables.documents(s, dir))

  /** The weight computation over any (source, …) docs frame — split out
    * so specs can drive it with planted fixtures.
    */
  private[queries] def mixWeights(docs: DataFrame): DataFrame = {
    val counts = docs
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", floor(sqrt(col("n_docs")) * 1e6).cast("long"))
    val tot = counts.agg(sum(col("sq")).as("tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("sq"),
        (col("sq").cast("double") / col("tot")).as("weight"),
        floor(lit(MixBudget) * col("sq") / col("tot")).cast("long").as("n_target"))
      .orderBy("source")
  }

  /** Token-budget EPOCH SCHEDULE — the data-mixing planner's output:
    * given a total training-token budget (here 2× the corpus, forcing
    * repetition) and √-temperature source weights, how many epochs of
    * each source the run consumes and how many tokens its final partial
    * epoch takes. This is the repeat-factor table a mixture-aware
    * loader is configured with (cf. the data-repetition schedules in
    * mixture-optimization work — up-weighted small sources repeat, big
    * sources run fractional epochs).
    *
    * Numerics: per-source token counts are exact integers; √-weights
    * are quantized to integer micro-units like [[mixWeights]]; targets
    * and epoch counts are pure integer `div` arithmetic — the only
    * double is the display weight (one division of two exact longs).
    * The 1e6 quantization grain is a knob: at web-corpus scale drop it
    * so `budget·sq` stays inside 63 bits (the production spelling is a
    * DECIMAL(38,0) product; the grain keeps the toy plan codegen-only).
    * Shape: one hash agg to the ~|sources| table, broadcast scalar
    * totals, map-only arithmetic after — dimension-sized at any scale.
    */
  def qEpochSchedule(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("avail_tokens"))
      .withColumn("sq", floor(sqrt(col("avail_tokens")) * 1e6).cast("long"))
    val tot = per.agg(sum(col("sq")).as("tot"),
      (sum(col("avail_tokens")) * 2).as("budget"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        (col("sq").cast("double") / col("tot")).as("weight"),
        expr("(budget * sq) div tot").as("target_tokens"))
      .withColumn("epochs",
        expr("(target_tokens + avail_tokens - 1) div avail_tokens"))
      .withColumn("last_epoch_tokens",
        when(col("epochs") > 0,
          col("target_tokens") - (col("epochs") - 1) * col("avail_tokens"))
          .otherwise(lit(0L)))
      .orderBy("source")
  }

  /** Shannon character entropy per document — the randomness quality
    * signal (machine-generated or encrypted junk sits at the extremes).
    * Computed as ln(n) − (Σ cᵢ·ln cᵢ)/n over per-character counts:
    * the counts are exact integers from one hash aggregate, the only
    * float work is ~30 ln terms per doc, and the result is rounded at
    * the 1e-4 grain ([[Q.r4]]'s libm-boundary rule) so cross-engine
    * last-ulp ln/summation differences cannot surface. Shape: explode
    * chars → (doc, char) hash agg → per-doc agg; shuffle carries
    * (doc, char, count) triples — alphabet-bounded per doc.
    */
  def qTextEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        round(log(col("n_chars").cast("double"))
          - col("clc") / col("n_chars"), 4).as("entropy_nats"))
      .orderBy("doc_id")

  /** Materialize the √-temperature mixture as an actual corpus sample:
    * per-source keep budget = floor(30%·corpus · sqᵢ/Σsq), and a doc
    * survives when its stable md5 bucket clears the source's keep
    * fraction — the comparison `bucket · n_docs < n_keep · 10^6` is
    * exact integer arithmetic, so membership is bit-deterministic,
    * reproducible under re-runs and incremental extension, and engine
    * -independent (same contract as [[Sampling]]'s stratified sample).
    * Map-only after a broadcast join with the 20-row weight table.
    */
  def qMixResample(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", floor(sqrt(col("n_docs")) * 1e6).cast("long"))
    val tot = counts.agg(sum(col("sq")).as("tot"),
      floor(sum(col("n_docs")) * 0.3).cast("long").as("budget"))
    val w = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        floor(col("budget") * col("sq") / col("tot")).cast("long").as("n_keep"))
    Tables.documents(s, dir).select("doc_id", "source")
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1000000"))
      .join(broadcast(w), "source")
      .filter(col("bucket") * col("n_docs") < col("n_keep") * lit(1000000L))
      .select("doc_id", "source", "bucket")
      .orderBy("doc_id")
  }

  /** BPE merge-step pair statistics — the inner loop of byte-pair
    * tokenizer training: corpus-weighted adjacent character-pair counts.
    * The word-frequency table is computed once (hash agg over exploded
    * tokens), then each DISTINCT word explodes into its len−1 character
    * bigrams — so the heavy per-occurrence work collapses to
    * per-distinct-word work, exactly the trick real BPE trainers use.
    * Top [[BpeTopK]] pairs by weighted count; at scale each further
    * merge round is the same plan over the rewritten symbol table.
    */
  private val BpeTopK = 20

  def qBpePairs(s: SparkSession, dir: String): DataFrame = {
    val wordFreq = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    // word length ≥ 2 ⇒ sequence ascends; pair built post-explode.
    wordFreq
      .select(col("wc"), col("word"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(col("wc"), expr("substring(word, i, 2)").as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpeTopK)
  }

  /** Iterated BPE merge training — [[qBpePairs]]'s inner loop actually
    * REPEATED: each round counts adjacent symbol pairs over the distinct
    * -word table, picks the argmax (count desc, pair asc — the
    * tokenizer-training tie-break), rewrites every word's symbol
    * sequence by merging that pair, and goes again. Symbol sequences
    * live as unit-separator-joined strings, so the rewrite is a literal
    * `replace` — leftmost non-overlapping on BOTH engines, which is
    * exactly BPE's merge semantics — and each round is the same bounded
    * plan over the rewritten table (the [[graft.queries.Fingerprints]]
    * connected-components discipline: the driver loop carries only one
    * scalar argmax per round, never data).
    */
  private val BpeRounds = 3
  private val US = "\u001f"

  /** The shared merge-training loop: the word table after every round
    * (0 = raw characters) plus the per-round argmax records. Each
    * round's symbol table is localCheckpointed (the CC-loop
    * discipline): without the cut, round r's argmax re-runs the corpus
    * explode + word-frequency aggregate AND rounds 1..r−1's rewrites
    * from scratch — lineage cost quadratic in rounds, fatal at the
    * thousands of merges a real tokenizer trains. With it, each round
    * reads the previous round's (vocab-sized) table once.
    */
  private def bpeTrain(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], Seq[DataFrame]) =
    graft.Caches.memoSide(s, dir, "bpe_train") {
      bpeTrainUncached(s, dir)
    }

  private def bpeTrainUncached(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, String, Long)], Seq[DataFrame]) = {
    var words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(col("wc"), array_join(split(col("word"), ""), US).as("seq"))
      .localCheckpoint(true)
    val rounds = scala.collection.mutable.ArrayBuffer(words)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    for (r <- 1 to BpeRounds) {
      // Split once into a column, explode positions, build the pair
      // post-explode — the lambda form re-ran split() three times per
      // element, interpreted. The CASE guard covers a fully-merged word
      // (single symbol ⇒ sequence(1, 0) would DESCEND in Spark).
      val best = words
        .select(col("wc"), split(col("seq"), US).as("syms"))
        .select(col("wc"), col("syms"), explode(expr(
          "CASE WHEN size(syms) < 2 THEN array() ELSE sequence(1, size(syms) - 1) END"))
          .as("i"))
        .select(col("wc"),
          concat(expr("element_at(syms, i)"), lit(US),
            expr("element_at(syms, i + 1)")).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).head()
      val pair = best.getString(0)
      val Array(a, b) = pair.split(US)
      merges += ((r, a, b, a + b, best.getLong(1)))
      words = words.withColumn("seq",
        call_function("replace", col("seq"), lit(pair), lit(a + b)))
        .localCheckpoint(true)
      rounds += words
    }
    (merges.toSeq, rounds.toSeq)
  }

  def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, dir)._1.toDF("round", "sym_a", "sym_b", "merged", "n")
      .orderBy("round")
  }

  /** BPE ENCODE — the tokenizer's apply side, closing the train→encode
    * loop: apply the [[bpeTrain]]ed merge list, in training order, to
    * every distinct word (one `replace` per merge — leftmost
    * non-overlapping on both engines, the same single-pass-per-merge
    * discipline the training rewrite uses), then charge each document
    * the symbol count of its words. The per-occurrence work collapses to
    * per-DISTINCT-word work exactly like training; single-character
    * words (excluded from training, which needs pairs) cost one symbol.
    * At 100 TB the trained merge list is a written artifact applied as a
    * broadcast rewrite chain; the per-doc count is one hash agg.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeTrain(s, dir)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val encoded = merges.foldLeft(
      toks.select("word").distinct()
        .filter(length(col("word")) >= 2)
        .withColumn("seq", array_join(split(col("word"), ""), US))) {
      case (df, (_, a, b, m, _)) =>
        df.withColumn("seq",
          call_function("replace", col("seq"), lit(a + US + b), lit(m)))
    }.select(col("word"), size(split(col("seq"), US)).as("n_sym"))
    toks.join(encoded, Seq("word"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sym"), lit(1L)).cast("long")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_words")).as("tokens_per_word"))
      .orderBy("doc_id")
  }

  /** BPE compression trajectory — the number the merge loop is actually
    * optimizing: corpus-weighted symbol count after each round, and
    * symbols-per-word-occurrence. Round 0 is the raw character
    * baseline; each merge must strictly shrink the total by its pair
    * count. One vocab-sized aggregate per round over the tables the
    * training loop already checkpointed; counts are exact integers,
    * the ratio one double division.
    */
  def qBpeCompression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-round scalars memoized beside the trained model: construction
    // re-runs no aggregate jobs once warm (PlanGuardSpec)
    val stats = graft.Caches.memoSide(s, dir, "bpe_compression_stats") {
      val (_, rounds) = bpeTrain(s, dir)
      rounds.zipWithIndex.map { case (w, r) =>
        val row = w.agg(
          sum(col("wc") * size(split(col("seq"), US))).as("n_symbols"),
          sum(col("wc")).as("n_occ")).head()
        (r, row.getLong(0), row.getLong(1))
      }
    }
    stats.toDF("round", "n_symbols", "n_occ")
      .select(col("round"), col("n_symbols"), col("n_occ"),
        (col("n_symbols").cast("double") / col("n_occ")).as("symbols_per_word"))
      .orderBy("round")
  }

  /** Quality-percentile gate — the corpus-relative filter real cleaning
    * pipelines run after absolute-threshold rules: drop the bottom
    * decile by lexical diversity (distinct-word fraction) and the
    * bottom quartile by length, with thresholds measured from THIS
    * corpus rather than hard-coded. The thresholds are exact order
    * statistics: Spark's `percentile_disc` picks element ⌈p·n⌉ and
    * DuckDB's `quantile_disc` picks ⌊p·(n−1)⌋+1 — provably the same
    * element whenever p = 1/b for integer b (both reduce to ⌈n/b⌉), so
    * p ∈ {0.10, 0.25} is cross-engine safe with NO float comparison
    * slack; the scores themselves are single divisions of exact
    * integer counts. Shape: one per-doc map + hash-agg for scores, one
    * tiny sort-based aggregate for the two thresholds (swap to
    * `percentile_approx`'s mergeable sketch at the 10^9-doc scale where
    * buffering the column matters), broadcast back into a map-only
    * verdict — no shuffle touches document text.
    */
  def qQualityGate(s: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("words")).as("n_words"),
        (size(array_distinct(col("words"))).cast("double") / size(col("words")))
          .as("diversity"))
    val thr = scored.agg(
      expr("percentile_disc(0.10) WITHIN GROUP (ORDER BY diversity)").as("d_thr"),
      // percentile_disc yields an ACTUAL element (no interpolation), so
      // casting the always-integral length threshold back to int is
      // exact — and matches the oracle's int-typed quantile_disc.
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_words)")
        .cast("int").as("w_thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_words"), col("diversity"),
        col("d_thr"), col("w_thr"),
        (col("diversity") >= col("d_thr") && col("n_words") >= col("w_thr"))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Exact substring-span dedup: 32-char spans whose Karp–Rabin hash
    * recurs in ≥ 2 distinct documents (the distributed analog of
    * suffix-array exact-substring dedup). [[graft.functions.SpanHashes]]
    * emits per-doc DISTINCT hashes in the codegen'd scan, so the
    * aggregate's count(*) is already a distinct-document count and the
    * shuffle carries only (hash) — 8 bytes per distinct span per doc.
    */
  def qDedupSpans(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(spanhashes(col("text"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy("h")

  /** Intra-document self-repetition — the span-level complement of the
    * word-level dup fraction ([[qTextRepetition]]): fraction of a
    * document's 32-char windows whose Karp–Rabin hash repeats WITHIN
    * the document (copy-pasted paragraphs, templated boilerplate,
    * generation loops). [[graft.functions.SpanHashes]] already returns
    * per-doc DISTINCT hashes, so the signal is one subtraction:
    * 1 − distinct/windows — map-only in the codegen'd scan, no explode,
    * no shuffle. Both engines hash identically, so collision behavior
    * (negligible at 2^31−7) cancels exactly.
    */
  def qTextSelfrep(s: SparkSession, dir: String): DataFrame =
    selfrep(Tables.documents(s, dir))

  /** The metric over any (doc_id, text) frame — split out so specs can
    * plant repeated-span fixtures (the synthetic corpus happens to
    * contain no intra-doc 32-char repeats, so the driver check pins the
    * zero baseline and the spec pins the positive signal).
    */
  private[queries] def selfrep(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= 32)
      .select(col("doc_id"),
        (length(col("text")) - 31).as("n_windows"),
        size(spanhashes(col("text"))).as("n_distinct_spans"))
      .withColumn("selfrep_frac",
        lit(1.0) - col("n_distinct_spans").cast("double") / col("n_windows"))
      .orderBy("doc_id")

  /** Exact-substring DECONTAMINATION — the span-level complement of the
    * shingle-overlap rule ([[Fingerprints.qDecontaminate]]): a training
    * document is removed when ANY of its 32-char spans recurs verbatim
    * in the evaluation set (doc_id < 20). A single shared long span is
    * already copying evidence (the standard verbatim-contamination
    * test), so the threshold is 1 — vs the shingle rule's ≥5 fuzzy
    * hits. Shape: the codegen'd span hashes explode map-side; the eval
    * span set is benchmark-sized and broadcasts into a semi-join; the
    * only shuffle is the distinct over contaminated doc ids.
    */
  /** Minimum duplicated-substring length (chars) worth cutting — spans
    * shorter than this are shared phrases, not copies. Two windows more
    * than one hash apart can still overlap in characters, so the CUT
    * metric merges windows within [[graft.functions.SpanHashMath.W]]
    * positions; the RUN listing requires strict adjacency (every
    * intermediate window duplicated ⇒ the whole run is one verbatim
    * repeated substring).
    */
  private val MinRun = 64

  /** Positions whose 32-char window hash recurs in ≥2 DISTINCT documents
    * — the shared first half of the two exact-substring queries. Shape:
    * positional hashes explode map-side off the codegen'd scan (one
    * (doc, pos, h) long-triple per character — text itself never
    * shuffles); one hash aggregate finds cross-document hashes; a
    * semi-join flags the positions. At 100 TB the duplicated-hash table
    * is the standing artifact (same lifecycle as the posting index) and
    * the semi-join becomes a shuffle-on-h equi-join ∝ corpus characters
    * — the honest minimum for character-granular dedup; nothing is ever
    * quadratic in documents.
    */
  private[queries] def dupPositions(docs: DataFrame): DataFrame =
    dupPositionsFromPh(posHashes(docs))

  /** The positional-hash TABLE (doc_id, pos, h) — the standing artifact
    * character-granular dedup maintains at scale (append-only: a new
    * batch only ADDS rows, so maintenance is a union + re-aggregation
    * whose map-side partials touch the increment).
    */
  private[queries] def posHashes(docs: DataFrame): DataFrame =
    // pos stays the generator's INT ordinal inside the heavy table
    // (guide §2.3, narrower types — cast back to LONG at the small
    // duplicated-position output so downstream schemas are unchanged).
    // h must stay LONG: it is the deliberately WIDE 62-bit two-family
    // hash (h1·P2 + h2, [[graft.functions.SpanHashMath.spanHashesPos]])
    // — a 31-bit truncation birthday-collides at 10× scale, the exact
    // bug the round-11 gate caught and the width was added to fix (an
    // int-narrowing attempt this round was caught by the sf0.01 oracle
    // within minutes: rewrite/cut cut extra spans from collided hashes).
    docs.select(col("doc_id"),
        posexplode(spanhashesPos(col("text"))).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos"), col("h"))

  private[queries] def dupPositionsFromPh(ph: DataFrame): DataFrame = {
    // "≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id), evaluated as two
    // unbounded WINDOW aggregates over ONE h-partitioned exchange — not
    // as an aggregate + self-semi-join. The join spelling (r13) scanned
    // and span-hashed the corpus TWICE (column pruning specializes the
    // agg/probe subtrees, so the exchange can never be shared) and paid
    // a second full-table exchange whenever the duplicated-hash set
    // outgrew a broadcast — the scale cliff behind the r13
    // scale100_cost gate failure. The window spelling is
    // structurally scale-free: one scan, one exchange carrying the raw
    // (doc_id, pos-as-INT, h) triple, one partition-local sort on h
    // (what the sort-merge probe paid anyway), zero joins — the same
    // plan shape at sf0.1 and at 100 TB. Per-h groups are bounded by a
    // hash's cross-document recurrence (planted max ≈ hundreds), so the
    // unbounded frame buffers trivially. Row set identical to the
    // semi-join by construction: the filter keeps exactly the rows
    // whose h recurs in ≥2 distinct documents.
    val w = Window.partitionBy("h")
    ph
      .withColumn("mn", min(col("doc_id")).over(w))
      .withColumn("mx", max(col("doc_id")).over(w))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
  }

  /** Exact-substring dedup, run LISTING: maximal cross-document
    * duplicated substrings ≥ [[MinRun]] chars, as (doc_id, start,
    * dup_len) intervals — the distributed analog of the suffix-array
    * "dedup repeated spans" method (single-node literature trains the
    * suffix array; the rolling-hash bucket join is its shuffle-friendly
    * spelling, same family as [[qDedupSpans]] but with POSITIONS kept so
    * adjacent duplicated windows merge into maximal runs). A run of k
    * consecutive duplicated windows certifies a verbatim repeat of
    * k+W−1 chars: every 32-char sub-window of the claimed span recurs
    * elsewhere, which at W=32 is copy evidence, not phrase reuse.
    *
    * Island merge: grp = pos − row_number() per doc — consecutive
    * positions share a group. The only window function runs partitioned
    * BY DOCUMENT (no global order), so the merge scales with the
    * longest document, not the corpus.
    */
  def qDedupSubstring(s: SparkSession, dir: String): DataFrame =
    substringRuns(Tables.documents(s, dir), MinRun).orderBy("doc_id", "start")

  /** Maximal strictly-consecutive duplicated-window runs ≥ `minRun`
    * chars over any (doc_id, text) frame — split out so specs can plant
    * shared-substring fixtures.
    */
  private[queries] def substringRuns(docs: DataFrame, minRun: Int): DataFrame =
    runsFromPositions(dupPositions(docs), minRun)

  private[queries] def runsFromPositions(dpos: DataFrame, minRun: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dpos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("start"),
        (max(col("pos")) - min(col("pos")) + lit(SpanHashMathW)).as("dup_len"))
      .filter(col("dup_len") >= minRun)
      .select(col("doc_id"), col("start"), col("dup_len"))
  }

  /** INCREMENTAL maintenance of the exact-substring artifact, proven by
    * value equality with the from-scratch rebuild (the oracle is
    * [[qDedupSubstring]]'s SQL verbatim — the q_dedup_index_append
    * pattern at character granularity): the standing positional-hash
    * table (docs with doc_id % 10 ≠ 7, memoized once — in production a
    * written artifact) is UNIONED with the arriving batch's table and
    * the duplicated-hash summary re-aggregates over the merge. The ph
    * table is append-only (a new batch only adds rows), so maintenance
    * cost is the increment's scan plus the re-aggregation whose
    * map-side partials are increment-sized; nothing about the standing
    * corpus's text is ever re-read.
    */
  def qDedupSubstringAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val standing = graft.Caches.memo(s, dir, "posph_standing")(
      posHashes(docs.filter(col("doc_id") % 10 =!= 7)))
    val increment = posHashes(docs.filter(col("doc_id") % 10 === 7))
    runsFromPositions(
        dupPositionsFromPh(standing.unionByName(increment)), MinRun)
      .orderBy("doc_id", "start")
  }

  /** ScaleStress hook — the substring-run listing rebuilt from an
    * arbitrary SLICING of the corpus's positional-hash table, each
    * slice appended in turn: the ph table is append-only, so any
    * union order must equal the one-pass rebuild (the append∘append ≡
    * rebuild chain claim, checked by fingerprint against
    * [[qDedupSubstring]] at 10×).
    */
  private[graft] def substringRunsOverSlices(s: SparkSession, dir: String,
      slices: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ph = slices.map(c => posHashes(docs.filter(c))).reduce(_ unionByName _)
    runsFromPositions(dupPositionsFromPh(ph), MinRun)
      .orderBy("doc_id", "start")
  }

  /** Exact-substring dedup, CUT summary: per document, how many
    * characters are covered by cross-document duplicated windows (union
    * of [pos, pos+W) intervals — windows within W positions overlap, so
    * the island rule merges gaps ≤ W; sum of merged run lengths is the
    * exact covered-character count, no double counting) and the
    * retained fraction after cutting them. The per-corpus removal total
    * this yields is the number a curator reads before enabling
    * character-level dedup. Clean documents are kept with dup_chars=0
    * via the left join — the output is corpus-sized, one row per doc.
    */
  def qDedupSubstringCut(s: SparkSession, dir: String): DataFrame =
    substringCut(Tables.documents(s, dir))

  private[queries] def substringCut(docs: DataFrame): DataFrame = {
    val runs = withIslands(dupPositions(docs))
      .groupBy("doc_id", "isl")
      .agg((max(col("pos")) - min(col("pos")) + lit(SpanHashMathW)).as("run_len"))
    val perDoc = runs.groupBy("doc_id").agg(
      count(lit(1)).as("n_runs"), sum(col("run_len")).as("dup_chars"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_runs", "dup_chars"))
      .withColumn("retained_frac",
        lit(1.0) - col("dup_chars").cast("double") / col("n_chars"))
      .orderBy("doc_id")
  }

  private def SpanHashMathW: Int = graft.functions.SpanHashMath.W

  /** Numbers each document's islands of (doc_id, pos) positions as
    * `isl`: windows within W positions overlap, so a gap ≤ W stays in
    * the island (`brk` marks each island's first position). One window
    * partitioned by document, no global order.
    */
  private def withIslands(dpos: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dpos
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= SpanHashMathW, 0).otherwise(1))
      .withColumn("isl", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Exact-substring dedup, REWRITE endpoint: the cleaned corpus text
    * after cutting every duplicated-window occurrence EXCEPT its
    * canonical first occurrence (min (doc_id, pos) across the corpus) —
    * the keep-one policy of suffix-array substring dedup: content is
    * never erased corpus-wide, only its repeats. Per doc the cut set is
    * the interval union of its non-canonical duplicated windows (same
    * gap ≤ W island merge as [[substringCut]]), and the survivor text
    * is rebuilt with one pass of `aggregate` over the sorted interval
    * list — O(chars) per document, no per-character rows.
    *
    * Canonical occurrence is the lexicographic min(struct(doc_id, pos))
    * — a genuine two-field min, NOT a packed `doc_id·2²⁰ + pos` key: the
    * packed spelling silently aliases into other documents' key space
    * for documents ≥ 2²⁰ code points (routine in web corpora), electing
    * the wrong canonical occurrence and cutting innocent text — the same
    * oracle-blind failure class as the 2³¹ hash width (both engines
    * compute the identical wrong key, so only a planted ≥1 Mi-char doc
    * catches it; ScaleStress plants one). Shuffles: the (h)-keyed canon
    * aggregate
    * and join (∝ corpus chars — the honest minimum for char-granular
    * provenance), one per-doc window, one per-doc interval collect.
    */
  def qDedupSubstringRewrite(s: SparkSession, dir: String): DataFrame =
    substringRewrite(Tables.documents(s, dir))

  private[queries] def substringRewrite(docs: DataFrame): DataFrame = {
    // Two-field lexicographic min — Spark structs order field-by-field,
    // so this is exact at ANY document length (no packed-key wrap).
    // "≥2 distinct docs" is min(doc_id) ≠ max(doc_id); min(doc_id) is
    // already canon.doc_id, so one extra max(doc_id) suffices. Both run
    // as unbounded WINDOW aggregates over one h-partitioned exchange
    // (the dupPositionsFromPh shape): no aggregate + join-back, no
    // second corpus scan, no broadcast-to-shuffle join cliff at scale —
    // and no Expand (the r12 count_distinct + min(struct) mix planned
    // one).
    val wh = Window.partitionBy("h")
    // pos rides the heavy table as the generator's INT ordinal (see
    // posHashes) and widens to LONG only after the cut filter shrinks
    // the row set.
    val cut = posHashes(docs)
      .withColumn("canon", min(struct(col("doc_id"), col("pos"))).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
      .filter(col("canon.doc_id") =!= col("mx"))
      .filter(col("doc_id") =!= col("canon.doc_id")
        || col("pos") =!= col("canon.pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val intervals = withIslands(cut)
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(SpanHashMathW)).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    docs.join(intervals, Seq("doc_id"), "left")
      .withColumn("clean_text", when(col("ivs").isNull, col("text")).otherwise(
        expr("""concat(
          |  aggregate(ivs, struct(CAST(0 AS BIGINT) AS p, '' AS acc),
          |    (a, iv) -> struct(iv.e AS p,
          |      concat(a.acc, substring(text, CAST(a.p + 1 AS INT),
          |        CAST(iv.s - a.p AS INT))) AS acc)).acc,
          |  substring(text,
          |    CAST(aggregate(ivs, CAST(0 AS BIGINT), (a, iv) -> iv.e) + 1 AS INT),
          |    length(text)))""".stripMargin)))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        length(col("clean_text")).cast("long").as("kept_chars"), col("clean_text"))
      .orderBy("doc_id")
  }

  def qDecontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val spans = docs.select(col("doc_id"), explode(spanhashes(col("text"))).as("h"))
    val evalSpans = spans.filter(col("doc_id") < 20).select("h").distinct()
    val contaminated = spans.filter(col("doc_id") >= 20)
      .join(broadcast(evalSpans), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    docs.select("doc_id", "lang", "source")
      .filter(col("doc_id") >= 20)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Per-source EXACT length percentiles (p50/p90/p99 of word count) —
    * the corpus-shape telemetry read before setting chunking and packing
    * parameters. Computed the way exact percentiles survive 100 TB: NOT
    * by sorting rows (a per-group sort pins each source's documents to
    * one task — skew-fatal) but over the VALUE HISTOGRAM: one hash
    * aggregate to (source, n_words, count) — map-side partials, output
    * bounded by distinct lengths × sources regardless of corpus size —
    * then a cumulative sum over the tiny histogram and the first value
    * whose running count reaches the rank. The rank test multiplies
    * through (`cum ≥ ceil(p·n/100)` ⇔ `100·cum ≥ p·n` over integers),
    * so both engines select the identical element; no float percentile
    * interpolation to diverge on.
    */
  def qLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).as("nw"))
      .groupBy("source", "nw").agg(count(lit(1)).as("cnt"))
    // Both the running count and the per-source total are windows over
    // the SAME (source) partitioning — one exchange, one sort, no second
    // corpus scan and no join for the totals.
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("source").orderBy("nw")))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("source")))
    cum.groupBy("source")
      .agg(
        min(when(col("cum") * 100 >= col("n") * 50, col("nw"))).as("p50"),
        min(when(col("cum") * 100 >= col("n") * 90, col("nw"))).as("p90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("nw"))).as("p99"),
        max(col("n")).as("n_docs"))
      .orderBy("source")
  }

  /** DSIR-style importance data selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by a hashed-n-gram naive-Bayes discriminant
    * between a TARGET distribution (here the lang='en' slice) and the
    * RAW corpus, then keep the top-k. Features are unigrams + bigrams
    * hashed into 4096 buckets (the paper's hashed n-gram feature space);
    * the published weight is Σ_f c_f·(log p_f − log q_f) — here the
    * per-feature log-ratio is replaced by the FIXED-POINT probability
    * delta (p̂_f − q̂_f in integer 1e-9 units, +1-smoothed), the same
    * linear NB discriminant family, because an exact-integer score is
    * bit-identical across engines while libm logs differ in their last
    * ulp (the determinism playbook of Q.scala).
    *
    * Scale: the feature table is AT MOST 4096 rows no matter the corpus
    * size — it aggregates once (shuffle on the hash bucket), broadcasts,
    * and scoring is a map-side join + one hash agg on doc_id. Bigrams
    * are built post-explode from an int sequence (codegen'd concat, see
    * TextAnalysis.bigramIdxExpr). At 100 TB the (count+1)×1e9 products
    * want DECIMAL(38,0) partials; the long headroom here is documented:
    * safe to ~10^9 corpus tokens.
    */
  def qDsirSelect(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .join(dsirScoresFromGrams(corpusDsirGrams(s, dir), targetLang = "en"),
        Seq("doc_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(100)

  /** The hashed (doc_id, lang, feature) occurrence table — the DSIR
    * feature extraction over any (doc_id, lang, text) frame. The driver
    * query MATERIALIZES it once per corpus ([[graft.Caches.memo]]):
    * three consumers read it (target counts, raw counts, and the final
    * per-doc scoring join), and without the memo each one re-runs the
    * full text explode + md5 (measured ~3× the query's real cost). At
    * 100 TB this is the written feature table a DSIR job shares between
    * its estimate and scoring phases.
    */
  private[queries] def dsirGrams(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("lang"),
        split(lower(col("text")), " ").as("ws"))
      .withColumn("nw", size(col("ws")))
    val uni = docs.select(col("doc_id"), col("lang"), explode(col("ws")).as("g"))
    val bi = docs.filter(col("nw") >= 2)
      .select(col("doc_id"), col("lang"), col("ws"),
        explode(expr("sequence(1, nw - 1)")).as("i"))
      .select(col("doc_id"), col("lang"),
        concat(expr("element_at(ws, i)"), lit(" "),
          expr("element_at(ws, i + 1)")).as("g"))
    uni.unionByName(bi)
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % 4096").as("f"))
  }

  /** The discriminant scorer over any (doc_id, lang, text) frame — split
    * out so specs can drive it with planted fixtures. Returns one row
    * per document: (doc_id, score, n_grams).
    */
  private[queries] def dsirScores(docsIn: DataFrame, targetLang: String): DataFrame =
    dsirScoresFromGrams(dsirGrams(docsIn), targetLang)

  private[queries] def dsirScoresFromGrams(grams: DataFrame, targetLang: String): DataFrame = {
    val tgtC = grams.filter(col("lang") === targetLang)
      .groupBy("f").agg(count(lit(1)).as("ct"))
    val rawC = grams.groupBy("f").agg(count(lit(1)).as("cr"))
    val totals = rawC.agg(sum(col("cr")).as("rt"))
      .crossJoin(tgtC.agg(sum(col("ct")).as("tt")))
    val feats = rawC.join(tgtC, Seq("f"), "left_outer")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      // (ct+1)·10⁹ passes int64 once a bucket holds ~10¹⁰ grams (a
      // 100 TB corpus holds ~10¹³ — a hot bucket easily does), where
      // non-ANSI Spark wraps silently and the DuckDB oracle throws —
      // the numerators are carried in DECIMAL(38,0)/HUGEINT; each DIV
      // quotient is ≤ 10⁹, so the delta itself stays comfortably BIGINT.
      .select(col("f"),
        (expr("CAST(((CAST(ct AS DECIMAL(38,0)) + 1) * 1000000000) DIV (tt + 4096) AS BIGINT)")
          - expr("CAST(((CAST(cr AS DECIMAL(38,0)) + 1) * 1000000000) DIV (rt + 4096) AS BIGINT)")).as("delta"))
    grams.join(broadcast(feats), Seq("f"))
      .groupBy("doc_id")
      .agg(sum(col("delta")).as("score"), count(lit(1)).as("n_grams"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dsir_select" -> (qDsirSelect(_, _)),
    "q_length_quantiles" -> (qLengthQuantiles(_, _)),
    "q_text_repetition" -> (qTextRepetition(_, _)),
    "q_text_boilerplate" -> (qTextBoilerplate(_, _)),
    "q_text_unigram_score" -> (qTextUnigramScore(_, _)),
    "q_text_bigram_score" -> (qTextBigramScore(_, _)),
    "q_text_entropy" -> (qTextEntropy(_, _)),
    "q_mix_weights" -> (qMixWeights(_, _)),
    "q_mix_resample" -> (qMixResample(_, _)),
    "q_bpe_pairs" -> (qBpePairs(_, _)),
    "q_epoch_schedule" -> (qEpochSchedule(_, _)),
    "q_bpe_merges" -> (qBpeMerges(_, _)),
    "q_bpe_encode" -> (qBpeEncode(_, _)),
    "q_bpe_compression" -> (qBpeCompression(_, _)),
    "q_quality_gate" -> (qQualityGate(_, _)),
    "q_dedup_spans" -> (qDedupSpans(_, _)),
    "q_text_selfrep" -> (qTextSelfrep(_, _)),
    "q_dedup_substring" -> (qDedupSubstring(_, _)),
    "q_dedup_substring_cut" -> (qDedupSubstringCut(_, _)),
    "q_dedup_substring_rewrite" -> (qDedupSubstringRewrite(_, _)),
    "q_dedup_substring_append" -> (qDedupSubstringAppend(_, _)),
    "q_decontaminate_spans" -> (qDecontaminateSpans(_, _)))

  val oracleSql: Map[String, String] = Map(
    "q_dsir_select" ->
      """WITH d AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
        |  FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(ws) AS g FROM d),
        |bi AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> ws[CAST(i AS INTEGER)] || ' ' || ws[CAST(i + 1 AS INTEGER)])) AS g
        |  FROM d WHERE len(ws) >= 2),
        |grams AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS f
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |tgt AS (SELECT f, count(*) AS ct FROM grams WHERE lang = 'en' GROUP BY f),
        |raw AS (SELECT f, count(*) AS cr FROM grams GROUP BY f),
        |tot AS (SELECT (SELECT sum(ct) FROM tgt) AS tt,
        |    (SELECT sum(cr) FROM raw) AS rt),
        |feats AS (SELECT raw.f,
        |    CAST(((CAST(COALESCE(ct, 0) AS HUGEINT) + 1) * 1000000000)
        |      // (tt + 4096) AS BIGINT)
        |    - CAST(((CAST(cr AS HUGEINT) + 1) * 1000000000)
        |      // (rt + 4096) AS BIGINT) AS delta
        |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f, tot),
        |scored AS (SELECT doc_id, CAST(sum(delta) AS BIGINT) AS score,
        |    count(*) AS n_grams
        |  FROM grams JOIN feats ON grams.f = feats.f GROUP BY doc_id)
        |SELECT dd.doc_id, lang, source, score, n_grams
        |FROM documents dd JOIN scored ON dd.doc_id = scored.doc_id
        |ORDER BY score DESC, dd.doc_id ASC
        |LIMIT 100""".stripMargin,
    "q_length_quantiles" ->
      """WITH d AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS nw FROM documents),
        |h AS (SELECT source, nw, count(*) AS cnt FROM d GROUP BY 1, 2),
        |c AS (SELECT source, nw,
        |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY nw) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n FROM h)
        |SELECT source,
        |  min(CASE WHEN cum * 100 >= n * 50 THEN nw END) AS p50,
        |  min(CASE WHEN cum * 100 >= n * 90 THEN nw END) AS p90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN nw END) AS p99,
        |  max(n) AS n_docs
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q_text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(words)),
        |      i -> words[CAST(i AS INTEGER)] || ' ' || words[CAST(i + 1 AS INTEGER)])) AS bg
        |  FROM d),
        |t AS (SELECT doc_id, max(c) AS top_bigram_n
        |  FROM (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(words) AS INTEGER) AS n_words,
        |  CAST(len(list_distinct(words)) AS INTEGER) AS n_distinct,
        |  1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dup_word_frac,
        |  t.top_bigram_n,
        |  CAST(t.top_bigram_n AS DOUBLE) / (len(words) - 1) AS top_bigram_frac
        |FROM d JOIN t ON d.doc_id = t.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_text_boilerplate" ->
      s"""WITH shingled AS (SELECT doc_id, ${Fingerprints.sqlShingles} AS sh
         |  FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest(${Fingerprints.sqlHs}) AS h
         |  FROM shingled),
         |dfq AS (SELECT h, count(*) AS df FROM p GROUP BY h)
         |SELECT p.doc_id,
         |  count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN dfq.df > $BoilerDf THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |  CAST(sum(CASE WHEN dfq.df > $BoilerDf THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS common_frac
         |FROM p JOIN dfq USING (h)
         |GROUP BY p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    "q_text_unigram_score" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vocab AS (SELECT w, count(*) AS cw FROM toks GROUP BY w),
        |tot AS (SELECT count(*) AS ct FROM toks)
        |SELECT toks.doc_id,
        |  count(*) AS n_toks,
        |  CAST(sum(vocab.cw) AS BIGINT) AS sum_cnt,
        |  CAST(sum(vocab.cw) AS DOUBLE) / (count(*) * any_value(tot.ct)) AS familiarity
        |FROM toks JOIN vocab ON toks.w = vocab.w, tot
        |GROUP BY toks.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_text_bigram_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
        |  FROM d, LATERAL unnest(generate_series(0, len(ws) - 2)) AS t(i)),
        |p AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM bg GROUP BY w1, w2),
        |lm AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS cl FROM p GROUP BY w1),
        |vs AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        |m AS (SELECT doc_id,
        |    CAST((CAST(c_ab + 1 AS HUGEINT) * 1000000000) // (cl + v) AS BIGINT)
        |      AS m
        |  FROM bg JOIN p USING (w1, w2) JOIN lm USING (w1), vs)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(m) AS BIGINT) AS score,
        |  CAST(sum(m) AS BIGINT) // count(*) AS mean_micro
        |FROM m
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_epoch_schedule" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        |  FROM documents GROUP BY source),
        |q AS (SELECT source, n_docs, avail_tokens,
        |    CAST(floor(sqrt(avail_tokens) * 1e6) AS BIGINT) AS sq FROM per),
        |t AS (SELECT CAST(sum(sq) AS BIGINT) AS tot,
        |    CAST(2 * sum(avail_tokens) AS BIGINT) AS budget FROM q),
        |j AS (SELECT source, n_docs, avail_tokens,
        |    CAST(sq AS DOUBLE) / tot AS weight,
        |    CAST((budget * sq) // tot AS BIGINT) AS target_tokens
        |  FROM q, t),
        |e AS (SELECT *,
        |    CAST((target_tokens + avail_tokens - 1) // avail_tokens AS BIGINT)
        |      AS epochs
        |  FROM j)
        |SELECT source, n_docs, avail_tokens, weight, target_tokens, epochs,
        |  CASE WHEN epochs > 0
        |    THEN target_tokens - (epochs - 1) * avail_tokens
        |    ELSE 0 END AS last_epoch_tokens
        |FROM e ORDER BY source""".stripMargin,
    "q_mix_weights" ->
      s"""WITH c AS (SELECT source, count(*) AS n_docs,
         |    CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS sq
         |  FROM documents GROUP BY source),
         |t AS (SELECT sum(sq) AS tot FROM c)
         |SELECT c.source, c.n_docs, c.sq,
         |  CAST(c.sq AS DOUBLE) / t.tot AS weight,
         |  CAST(floor($MixBudget * c.sq / t.tot) AS BIGINT) AS n_target
         |FROM c, t
         |ORDER BY source""".stripMargin,
    "q_text_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cc AS (SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE length(ch) > 0 GROUP BY doc_id, ch),
        |agg AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_chars,
        |    count(*) AS n_distinct_chars,
        |    CAST(sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS DOUBLE) AS clc
        |  FROM cc GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  round(ln(CAST(n_chars AS DOUBLE)) - clc / n_chars, 4) AS entropy_nats
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_mix_resample" ->
      """WITH c AS (SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS sq
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(sq) AS BIGINT) AS tot,
        |    CAST(floor(sum(n_docs) * 0.3) AS BIGINT) AS budget FROM c),
        |w AS (SELECT c.source, c.n_docs,
        |    CAST(floor(t.budget * c.sq / t.tot) AS BIGINT) AS n_keep
        |  FROM c, t),
        |d AS (SELECT doc_id, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bucket
        |  FROM documents)
        |SELECT d.doc_id, d.source, d.bucket
        |FROM d JOIN w USING (source)
        |WHERE d.bucket * w.n_docs < w.n_keep * 1000000
        |ORDER BY d.doc_id""".stripMargin,
    "q_bpe_pairs" ->
      s"""WITH wf AS (SELECT word, count(*) AS wc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 2
         |  GROUP BY word),
         |p AS (SELECT wc,
         |    unnest(list_transform(range(1, length(word)),
         |      i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
         |  FROM wf)
         |SELECT pair, CAST(sum(wc) AS BIGINT) AS n
         |FROM p GROUP BY pair
         |ORDER BY n DESC, pair
         |LIMIT $BpeTopK""".stripMargin,
    "q_bpe_merges" -> {
      // one unrolled round: pair counts over wN-1 → argmax → rewrite
      def round(r: Int): String =
        s"""p$r AS (SELECT wc,
           |    unnest(list_transform(range(1, len(sym)),
           |      i -> sym[CAST(i AS INTEGER)] || chr(31) || sym[CAST(i + 1 AS INTEGER)])) AS pair
           |  FROM (SELECT wc, string_split(seq, chr(31)) AS sym FROM w${r - 1})),
           |b$r AS (SELECT $r AS round, pair, CAST(sum(wc) AS BIGINT) AS n
           |  FROM p$r GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1),
           |w$r AS (SELECT wc, replace(seq, (SELECT pair FROM b$r),
           |    replace((SELECT pair FROM b$r), chr(31), '')) AS seq FROM w${r - 1})""".stripMargin
      s"""WITH w0 AS (
         |  SELECT array_to_string(string_split(word, ''), chr(31)) AS seq,
         |    count(*) AS wc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 2
         |  GROUP BY 1),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT round,
         |  string_split(pair, chr(31))[1] AS sym_a,
         |  string_split(pair, chr(31))[2] AS sym_b,
         |  replace(pair, chr(31), '') AS merged, n
         |FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3)
         |ORDER BY round""".stripMargin
    },
    "q_bpe_encode" -> {
      // the same unrolled training rounds as q_bpe_merges, plus a
      // word-keyed encode chain applying each round's argmax pair
      def round(r: Int): String =
        s"""p$r AS (SELECT wc,
           |    unnest(list_transform(range(1, len(sym)),
           |      i -> sym[CAST(i AS INTEGER)] || chr(31) || sym[CAST(i + 1 AS INTEGER)])) AS pair
           |  FROM (SELECT wc, string_split(seq, chr(31)) AS sym FROM w${r - 1})),
           |b$r AS (SELECT $r AS round, pair, CAST(sum(wc) AS BIGINT) AS n
           |  FROM p$r GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1),
           |w$r AS (SELECT wc, replace(seq, (SELECT pair FROM b$r),
           |    replace((SELECT pair FROM b$r), chr(31), '')) AS seq FROM w${r - 1}),
           |e$r AS (SELECT word, replace(seq, (SELECT pair FROM b$r),
           |    replace((SELECT pair FROM b$r), chr(31), '')) AS seq FROM e${r - 1})""".stripMargin
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |w0 AS (
         |  SELECT array_to_string(string_split(word, ''), chr(31)) AS seq,
         |    count(*) AS wc
         |  FROM toks WHERE length(word) >= 2
         |  GROUP BY 1),
         |e0 AS (
         |  SELECT DISTINCT word,
         |    array_to_string(string_split(word, ''), chr(31)) AS seq
         |  FROM toks WHERE length(word) >= 2),
         |${round(1)},
         |${round(2)},
         |${round(3)},
         |enc AS (SELECT word,
         |    CAST(len(string_split(seq, chr(31))) AS BIGINT) AS n_sym FROM e3)
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(COALESCE(n_sym, 1)) AS BIGINT) AS n_tokens,
         |  CAST(sum(COALESCE(n_sym, 1)) AS DOUBLE) / count(*) AS tokens_per_word
         |FROM toks LEFT JOIN enc USING (word)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },
    "q_bpe_compression" -> {
      def round(r: Int): String =
        s"""p$r AS (SELECT wc,
           |    unnest(list_transform(range(1, len(sym)),
           |      i -> sym[CAST(i AS INTEGER)] || chr(31) || sym[CAST(i + 1 AS INTEGER)])) AS pair
           |  FROM (SELECT wc, string_split(seq, chr(31)) AS sym FROM w${r - 1})),
           |b$r AS (SELECT $r AS round, pair, CAST(sum(wc) AS BIGINT) AS n
           |  FROM p$r GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1),
           |w$r AS (SELECT wc, replace(seq, (SELECT pair FROM b$r),
           |    replace((SELECT pair FROM b$r), chr(31), '')) AS seq FROM w${r - 1})""".stripMargin
      def agg(r: Int): String =
        s"""SELECT $r AS round,
           |  CAST(sum(wc * len(string_split(seq, chr(31)))) AS BIGINT) AS n_symbols,
           |  CAST(sum(wc) AS BIGINT) AS n_occ FROM w$r""".stripMargin
      s"""WITH w0 AS (
         |  SELECT array_to_string(string_split(word, ''), chr(31)) AS seq,
         |    count(*) AS wc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 2
         |  GROUP BY 1),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT round, n_symbols, n_occ,
         |  CAST(n_symbols AS DOUBLE) / n_occ AS symbols_per_word
         |FROM (${agg(0)} UNION ALL ${agg(1)} UNION ALL ${agg(2)} UNION ALL ${agg(3)})
         |ORDER BY round""".stripMargin
    },
    "q_quality_gate" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS diversity
        |  FROM documents),
        |t AS (SELECT quantile_disc(diversity, 0.10) AS d_thr,
        |    quantile_disc(n_words, 0.25) AS w_thr FROM s)
        |SELECT s.doc_id, s.n_words, s.diversity, t.d_thr, t.w_thr,
        |  (s.diversity >= t.d_thr AND s.n_words >= t.w_thr) AS keep
        |FROM s, t
        |ORDER BY s.doc_id""".stripMargin,
    "q_dedup_spans" ->
      s"""WITH h AS (SELECT DISTINCT doc_id, unnest($sqlSpanHashes) AS h
         |  FROM documents)
         |SELECT CAST(h AS BIGINT) AS h, count(*) AS n_docs
         |FROM h GROUP BY h HAVING count(*) >= 2
         |ORDER BY h""".stripMargin,
    "q_text_selfrep" ->
      s"""SELECT doc_id,
         |  CAST(length(text) - 31 AS INTEGER) AS n_windows,
         |  CAST(len(list_distinct($sqlSpanHashes)) AS INTEGER) AS n_distinct_spans,
         |  1.0 - CAST(len(list_distinct($sqlSpanHashes)) AS DOUBLE)
         |    / (length(text) - 31) AS selfrep_frac
         |FROM documents
         |WHERE length(text) >= 32
         |ORDER BY doc_id""".stripMargin,
    // Positional-hash CTE shared by the two exact-substring queries:
    // identical hash values as the Spark kernel (same constants, same
    // code-point math), position kept. The island merges replay the
    // Spark window logic verbatim: strict adjacency (pos − row_number)
    // for the run listing, gap ≤ W merge (lag + running sum) for the
    // character-coverage cut.
    // From-scratch rebuild over the FULL corpus — equality with the
    // Spark side's append-maintained positional artifact proves
    // append ≡ rebuild at character granularity.
    "q_dedup_substring_append" ->
      s"""WITH $sqlDupPositions,
         |g AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM dpos)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start,
         |  CAST(max(pos) - min(pos) + $SpanHashMathW AS BIGINT) AS dup_len
         |FROM g GROUP BY doc_id, grp
         |HAVING max(pos) - min(pos) + $SpanHashMathW >= $MinRun
         |ORDER BY doc_id, start""".stripMargin,
    "q_dedup_substring" ->
      s"""WITH $sqlDupPositions,
         |g AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM dpos)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start,
         |  CAST(max(pos) - min(pos) + $SpanHashMathW AS BIGINT) AS dup_len
         |FROM g GROUP BY doc_id, grp
         |HAVING max(pos) - min(pos) + $SpanHashMathW >= $MinRun
         |ORDER BY doc_id, start""".stripMargin,
    "q_dedup_substring_cut" ->
      s"""WITH $sqlDupPositions,
         |b AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        <= $SpanHashMathW
         |      THEN 0 ELSE 1 END AS brk
         |  FROM dpos),
         |i AS (SELECT doc_id, pos,
         |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM b),
         |runs AS (SELECT doc_id, max(pos) - min(pos) + $SpanHashMathW AS run_len
         |  FROM i GROUP BY doc_id, isl),
         |per_doc AS (SELECT doc_id, count(*) AS n_runs,
         |    sum(run_len) AS dup_chars
         |  FROM runs GROUP BY doc_id)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |  CAST(coalesce(p.n_runs, 0) AS BIGINT) AS n_runs,
         |  CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars,
         |  1.0 - CAST(coalesce(p.dup_chars, 0) AS DOUBLE) / length(d.text)
         |    AS retained_frac
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // Same positional-hash feed; canonical occurrence = the two-field
    // lexicographic min over (doc_id, pos), spelled as the portable
    // two-aggregate chain (min doc, then min pos among that doc's
    // occurrences) — value-identical to Spark's min(struct) at ANY
    // document length; covered chars replayed as a per-character
    // range join (interval union ≡ union of window coverages, so the
    // oracle needs no island merge); text rebuilt by ordered string_agg.
    "q_dedup_substring_rewrite" ->
      s"""WITH $sqlPosHashCtes,
         |canon0 AS (SELECT h, min(doc_id) AS cdoc,
         |    count(DISTINCT doc_id) AS nd
         |  FROM ph GROUP BY h),
         |canon AS (SELECT c.h, c.cdoc, min(ph.pos) AS cpos
         |  FROM canon0 c JOIN ph ON ph.h = c.h AND ph.doc_id = c.cdoc
         |  WHERE c.nd >= 2 GROUP BY c.h, c.cdoc),
         |cut AS (SELECT ph.doc_id, ph.pos FROM ph JOIN canon USING (h)
         |  WHERE NOT (ph.doc_id = canon.cdoc AND ph.pos = canon.cpos)),
         |chars AS (SELECT doc_id, text,
         |    unnest(range(0, length(text))) AS cp
         |  FROM documents),
         |cov AS (SELECT DISTINCT c.doc_id, c.cp
         |  FROM chars c JOIN cut k ON k.doc_id = c.doc_id
         |    AND c.cp BETWEEN k.pos AND k.pos + ${SpanHashMathW - 1}),
         |kept AS (SELECT c.doc_id, c.cp,
         |    substr(c.text, CAST(c.cp + 1 AS INTEGER), 1) AS ch
         |  FROM chars c LEFT JOIN cov
         |    ON cov.doc_id = c.doc_id AND cov.cp = c.cp
         |  WHERE cov.cp IS NULL),
         |agg AS (SELECT doc_id, string_agg(ch, '' ORDER BY cp) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         |  CAST(length(coalesce(a.clean_text, '')) AS BIGINT) AS kept_chars,
         |  coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q_decontaminate_spans" ->
      s"""WITH h AS (SELECT DISTINCT doc_id, unnest($sqlSpanHashes) AS h
         |  FROM documents),
         |bad AS (SELECT DISTINCT t.doc_id
         |  FROM h t
         |  JOIN (SELECT DISTINCT h FROM h WHERE doc_id < 20) e USING (h)
         |  WHERE t.doc_id >= 20)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
         |WHERE d.doc_id >= 20 AND bad.doc_id IS NULL
         |ORDER BY d.doc_id""".stripMargin)

  /** DuckDB spelling of [[graft.functions.SpanHashMath.spanHashes]] —
    * identical constants and op order; code-point indexed (`substr` /
    * `ascii` / `length` are code-point semantics), matching the
    * kernel's code-point iteration.
    */
  private def sqlSpanHashes: String = {
    val pows = graft.functions.SpanHashMath.Pow.mkString("[", ", ", "]")
    s"""list_transform(range(0, greatest(length(text) - ${graft.functions.SpanHashMath.W - 1}, 0)), i ->
       |      list_sum(list_transform(range(0, ${graft.functions.SpanHashMath.W}), j ->
       |        CAST(ascii(substr(text, CAST(i + j + 1 AS INTEGER), 1)) AS BIGINT)
       |          * ($pows)[CAST(j + 1 AS INTEGER)]
       |      )) % ${graft.functions.SpanHashMath.P})""".stripMargin
  }

  /** CTE chain `pos/ph` — WIDE (62-bit, two-family) positional window
    * hashes with the occurrence key `okey = doc_id·2²⁰ + pos` — the
    * DuckDB spelling of [[graft.functions.SpanHashMath.spanHashesPos]]
    * (h1·P2 + h2; every intermediate < 2⁶³, see the kernel's scaladoc
    * for the 10×-found birthday-collision rationale).
    */
  private def sqlPosHashCtes: String = {
    val M = graft.functions.SpanHashMath
    val pows = M.Pow.mkString("[", ", ", "]")
    val pows2 = M.Pow2.mkString("[", ", ", "]")
    // Window width interpolated from the kernel's W — changing the
    // kernel constant re-derives the oracle with it (no silent desync).
    s"""pos AS (SELECT doc_id, text,
       |    unnest(range(0, greatest(length(text) - ${M.W - 1}, 0))) AS i
       |  FROM documents),
       |ph AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    (list_sum(list_transform(range(0, ${M.W}), j ->
       |      CAST(ascii(substr(text, CAST(i + j + 1 AS INTEGER), 1)) AS BIGINT)
       |        * ($pows)[CAST(j + 1 AS INTEGER)]
       |    )) % ${M.P}) * ${M.P2}
       |    + (list_sum(list_transform(range(0, ${M.W}), j ->
       |      CAST(ascii(substr(text, CAST(i + j + 1 AS INTEGER), 1)) AS BIGINT)
       |        * ($pows2)[CAST(j + 1 AS INTEGER)]
       |    )) % ${M.P2}) AS h
       |  FROM pos)""".stripMargin
  }

  /** CTE chain `pos/ph/dup/dpos` ending in the cross-document
    * duplicated window POSITIONS — the DuckDB spelling of
    * [[dupPositions]] ([[sqlPosHashCtes]], then hashes seen in ≥2
    * distinct docs, then the position semi-join).
    */
  private def sqlDupPositions: String =
    s"""$sqlPosHashCtes,
       |dup AS (SELECT h FROM ph GROUP BY h
       |  HAVING count(DISTINCT doc_id) >= 2),
       |dpos AS (SELECT ph.doc_id, ph.pos FROM ph SEMI JOIN dup USING (h))""".stripMargin
}
