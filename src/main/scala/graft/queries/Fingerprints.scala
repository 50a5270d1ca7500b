package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline near-duplicate detection over `documents`: MinHash+LSH,
  * SimHash, and n-gram Jaccard — the dedup suite's probabilistic legs.
  *
  * All hashing is integer arithmetic seeded from md5 (identical on any
  * engine), so every query here has a full value-exact DuckDB oracle —
  * no "rows-only" cop-out. Base hash: first 15 hex chars of md5 → 60-bit
  * non-negative bigint.
  *
  * Scale design (the whole point of these over exact dedup):
  *  - MinHash: per-doc signature is one pass over shingles (map-only);
  *    candidate generation joins on (band, bandValue) — shuffle keys are
  *    16-byte-ish ints, never document text. O(n) + join on collisions.
  *  - SimHash: 48-bit fingerprint per doc (map-only); the pigeonhole
  *    chunk-join (4×12-bit chunks) finds ALL pairs with hamming ≤ 3
  *    without an O(n²) cross join — a pair with ≤3 differing bits must
  *    agree exactly on ≥1 chunk.
  *  - Jaccard: prefix+length-filtered inverted index (PPJoin / Vernica
  *    et al., SIGMOD'10) — only each doc's globally-rarest
  *    (n − ⌈t·n⌉ + 1) tokens generate candidates, losslessly for
  *    J ≥ t; exact confirm via codegen'd sorted-merge intersection.
  *
  * Materialized once per corpus and shared across queries: the deduped
  * posting index ([[postings]]) and the confirmed near-dup pair set
  * ([[confirmedPairs]]).
  *
  * HASH-WIDTH AT SCALE (the bug class the round-9 10× harness caught in
  * the substring family — `SpanHashMath.spanHashesPos`, where 2³¹
  * Karp–Rabin birthday collisions falsely cut 77% of planted seeds):
  * this family is WIDE end to end, the same two-family construction as
  * the substring fix, so there is no "widen it later" note left to
  * become a bug.
  *
  *  - the shingle hash `h` is the FULL 60-bit md5 prefix, no modulus —
  *    confirm-stage intersection counts and posting-index joins
  *    birthday-collide only around 2³⁰ DISTINCT shingles per collision,
  *    and a collision there merely merges two shingles in an exact-
  *    Jaccard count (bounded perturbation, oracle-identical);
  *  - the MinHash permutations are two independent families reduced mod
  *    two distinct 31-bit primes and recombined as a 62-bit value
  *    `((A·(h mod P) + B) mod P) · P₂ + ((A₂·(h mod P₂) + B₂) mod P₂)`
  *    — the [[graft.functions.SpanHashMath]] pattern: since 60-bit h <
  *    P·P₂, CRT makes h → (h mod P, h mod P₂) injective, so two
  *    DISTINCT shingles can only collide in a signature coordinate by a
  *    2⁻⁶² accident, not by the old 2³¹ reduction. Every intermediate
  *    stays < 2⁶³ (A, h mod P < 2³¹ ⇒ products < 2⁶²), so DuckDB
  *    replays the exact arithmetic in BIGINT.
  *
  * LSH band values are therefore PAIRS of 62-bit signatures (v1, v2) —
  * two join columns, not a packed long (sig·P + sig no longer fits).
  */
object Fingerprints extends QueryModule {

  // Shared with the streaming ingest gate (StreamOps.minhashBands):
  // the stream side MUST produce bit-identical band values or the
  // stream-static join against the standing index silently misses.
  private[graft] val P = 2147483647L // 2^31 − 1
  private[graft] val P2 = 2147483629L // prime < 2^31 (SpanHashMath.P2)
  private[graft] def A(j: Int): Long = (2654435761L * (j + 1)) % P
  private[graft] def B(j: Int): Long = (1013904223L * (j + 1)) % P
  private[graft] def A2(j: Int): Long = (2246822519L * (j + 1)) % P2
  private[graft] def B2(j: Int): Long = (3266489917L * (j + 1)) % P2
  private[graft] val NumHashes = 16
  private[graft] val NumBands = 8 // bands of 2 hashes

  /** The 62-bit two-family MinHash permutation of hash column/value `x`
    * — identical SQL text on the Spark and DuckDB sides, all
    * intermediates < 2⁶³ (see the object scaladoc).
    */
  private[graft] def sigOf(j: Int, x: String): String =
    s"((${A(j)} * ($x % $P) + ${B(j)}) % $P) * $P2" +
      s" + ((${A2(j)} * ($x % $P2) + ${B2(j)}) % $P2)"

  /** The 60-bit shingle hash of string expression `x` — the ONE spelling
    * shared by the batch posting index and the streaming in-row twin
    * ([[graft.streaming.StreamOps.shingleHashes]]); round 10 shipped the
    * two hand-synced and they drifted (stream kept an old mod-2³¹
    * reduction → the ingest decontamination gate went silently inert).
    * Identical SQL text on the Spark and DuckDB sides.
    */
  /** Hex digits of the md5 prefix kept by [[hashOfSql]] — 15 nibbles =
    * 60 bits, the widest prefix that stays unsigned-safe in an int64 on
    * both engines.
    */
  private[graft] val HashHexPrefix = 15

  private[graft] def hashOfSql(x: String): String =
    s"CAST(conv(substring(md5($x), 1, $HashHexPrefix), 16, 10) AS BIGINT)"

  /** DuckDB spelling of [[hashOfSql]]. */
  private[graft] def sqlHashOf(x: String): String =
    s"('0x' || substr(md5($x), 1, $HashHexPrefix))::BIGINT"

  /** The inverted-index primitive: one (doc_id, n, h) row per shingle
    * OCCURRENCE of each document, h = 60-bit md5 hash mod P, n = the
    * doc's distinct-SHINGLE-STRING count (native `array_distinct` over
    * the built array — computed once per doc). Every consumer reads
    * through [[postings]], which dedups (doc_id, h) once and
    * materializes the result for the whole dedup suite, so per-
    * occurrence vs per-distinct raw rows are indistinguishable
    * downstream. Set sizes are distinct STRINGS while intersections
    * count distinct HASHES — the oracle computes the same two numbers,
    * so J is bit-identical cross-engine with no collision caveat.
    *
    * Codegen shape (round-1 lesson plus this round's measurement): the
    * md5 runs as a codegen'd per-row expression over the exploded rows
    * (md5 inside a `transform` lambda evaluates interpreted and
    * recomputes per consumer — 82 s vs 17 s on the 5k-doc corpus), and
    * the EXPLODE is over a tiny int `sequence` with the shingle string
    * built after it by plain codegen'd `concat_ws` — a generator fed by
    * a higher-order-function result evaluates the lambda interpreted
    * and copies the built array outside whole-stage codegen, measured
    * 15× slower at sf0.1 (see TextAnalysis.bigramIdxExpr). The one
    * per-doc lambda left is the array build feeding `n`'s distinct
    * count, which never explodes.
    */
  private[graft] def shingleIndex(s: SparkSession, dir: String): DataFrame =
    shingleIndexOf(s, Tables.documents(s, dir))

  /** The 3-word shingle that starts at 0-based word `i` of the words
    * array `w`, as SQL — one spelling for the batch index and the
    * streaming hashes ([[graft.streaming.StreamOps.shingleHashes]],
    * whose lambda binds its array as `ws`).
    */
  private[graft] def shingleSql(w: String): String =
    s"concat_ws(' ', element_at($w, i + 1), element_at($w, i + 2), element_at($w, i + 3))"

  /** [[shingleIndex]] over an arbitrary documents frame — the batch
    * path of the index-append maintenance query.
    */
  private def shingleIndexOf(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      // Shingling + hashing is ~10× the CPU of scanning the text bytes,
      // and parquet scan parallelism is capped by row-group count (3
      // tasks on the test corpus). One cheap round-robin exchange of the
      // raw text rebalances the expensive map across all cores — also
      // the doc-size skew guard at cluster scale.
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n", size(array_distinct(expr(
        s"""CASE WHEN size(words) >= 3
          |  THEN transform(sequence(0, size(words) - 3), i -> ${shingleSql("words")})
          |  ELSE array(text) END""".stripMargin))).cast("long"))
      .select(col("doc_id"), col("n"), col("words"), col("text"),
        explode(expr(
          "CASE WHEN size(words) >= 3 THEN sequence(0, size(words) - 3) ELSE array(0) END"))
          .as("i"))
      .select(col("doc_id"), col("n"),
        when(size(col("words")) >= 3,
          expr(shingleSql("words")))
          .otherwise(col("text")).as("sg"))
      .select(col("doc_id"), col("n"),
        // FULL 60-bit md5 prefix — no 2^31 reduction (object scaladoc:
        // the confirm-stage hash sets stay wide; only the MinHash
        // permutation inputs reduce, inside sigOf).
        expr(hashOfSql("sg")).as("h"))

  /** The deduped posting index — one (doc_id, n, h) row per distinct
    * (document, shingle-hash) — MATERIALIZED once per (session, corpus)
    * and shared by every dedup leg. Every consumer is either
    * duplicate-insensitive (minhash signature mins) or needs the dedup
    * anyway (df counts, intersection counts), so they all read this one
    * artifact; without it each query re-runs the md5 shingle map (the
    * dominant cost) once per join branch, and inter-branch sharing hangs
    * on fragile physical-plan exchange reuse. This is the local-mode
    * analog of what a 100 TB pipeline does explicitly: write the
    * inverted index once (e.g. `Io.bucketedParquet` bucketed by h) and
    * run candidate generation + confirm against the materialized table.
    * MEMORY_AND_DISK: partitions spill, never recompute.
    */
  private[graft] def postings(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "postings")(
      shingleIndex(s, dir).dropDuplicates("doc_id", "h"))

  /** Per-pair shared-hash counts for given candidate pairs: join each
    * side against per-doc hash ARRAYS (one groupBy over the index, rows
    * ≈ #docs) and count the intersection with codegen'd
    * `array_intersect`. Confirm cost is O(|candidates| · doclen) CPU
    * with NO row expansion — the join-the-index-twice alternative
    * shuffles |candidates| × avg-doc-postings rows (26M for 409k
    * candidates on the sf0.1 corpus, the measured bottleneck of the
    * round-2 shape). The arrays frame broadcasts at test scale and
    * sort-merge-joins by doc id at corpus scale. Carries the docs'
    * distinct-string totals (na/nb) so callers compute J directly.
    */
  private def interCounts(s: SparkSession, dir: String,
      candidates: DataFrame): DataFrame = {
    // SORTED arrays so the confirm is a codegen'd two-pointer merge
    // (graft_sinter) — `array_intersect` here falls off Spark's
    // specialized hash-set path and boxes every element (measured 60–155 s
    // CPU + 45 s GC for 409k confirms; graft_sinter: < 1 s).
    // The per-doc array frame is ITSELF a memoized corpus artifact:
    // both confirm paths (prep's LSH confirm, the PPJoin confirm) read
    // the same groupBy-and-sort of the posting index, so it builds once.
    val arrays = docArrays(s, dir)
    candidates
      .join(arrays.select(col("doc_id").as("doc_a"),
        col("n").as("na"), col("hs").as("ha")), "doc_a")
      .join(arrays.select(col("doc_id").as("doc_b"),
        col("n").as("nb"), col("hs").as("hb")), "doc_b")
      .withColumn("inter", graft.functions.GraftFunctions.sinter(col("ha"), col("hb")))
      .select("doc_a", "doc_b", "inter", "na", "nb")
  }

  /** (doc_id, n, sorted hash array) — one row per document, built once
    * per corpus from the posting index.
    */
  private def docArrays(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "doc_hash_arrays")(
      postings(s, dir).groupBy("doc_id")
        .agg(first(col("n")).as("n"), sort_array(collect_list(col("h"))).as("hs")))

  /** MinHash sigs + LSH banding over the (doc_id, h) index → candidate
    * pairs, NO trailing sort (embeddable). Signatures are ONE codegen'd
    * hash aggregate computing all 16 mins (partial map-side), not
    * per-doc higher-order folds (interpreted, the round-1 hot spot).
    */
  /** The (doc_id, band, v1, v2) LSH band table of a (doc_id, h) index —
    * band value = the PAIR of 62-bit signatures (two join columns; a
    * packed sig·P + sig long no longer fits, see object scaladoc).
    * Signatures are ONE codegen'd hash aggregate computing all 16 mins
    * (partial map-side). Exposed `private[graft]`: it is the STANDING
    * band index the streaming ingest gate joins against, and the
    * batch↔stream parity spec compares [[graft.streaming.StreamOps
    * .minhashBands]] against exactly this table.
    */
  private[graft] def bandTable(idx: DataFrame): DataFrame = {
    val sigAggs = (0 until NumHashes).map(j =>
      min(expr(sigOf(j, "h"))).as(s"sig$j"))
    val sigs = idx.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    val stackArgs = (0 until NumBands)
      .map(b => s"$b, sig${2 * b}, sig${2 * b + 1}").mkString(", ")
    sigs.selectExpr(
      "doc_id", s"stack($NumBands, $stackArgs) AS (band, v1, v2)")
  }

  /** [[bandTable]] over an arbitrary documents frame (shingle → 60-bit
    * hash → dedup → 16 signature mins) — the batch-aggregation spelling
    * of the signatures the stream computes in-row.
    */
  private[graft] def bandTableOf(s: SparkSession, docs: DataFrame): DataFrame =
    bandTable(shingleIndexOf(s, docs).dropDuplicates("doc_id", "h"))

  private def minhashPairs(idx: DataFrame): DataFrame = {
    val bands = bandTable(idx)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.v1") === col("y.v1")
          && col("x.v2") === col("y.v2")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash signatures + LSH banding → candidate near-dup pairs.
    * Runs on the deduped materialized index — signature mins are
    * duplicate-insensitive, so the result is identical to running on
    * raw postings.
    */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir).orderBy("doc_a", "doc_b")

  /** The LSH candidate pair set — materialized like [[postings]]: the
    * signature build (16 min-aggregates over every posting) runs once
    * per corpus, not once per consuming query.
    */
  private[graft] def candidatePairs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "minhash_cands")(minhashPairs(postings(s, dir)))

  /** The confirmed near-dup pair set (minhash candidates, exact Jaccard
    * ≥ 0.5 confirm) — itself a MATERIALIZED corpus artifact: both the
    * dedup pipeline and the corpus clean consume exactly this set, and
    * a production clean writes it out (it is the provenance record of
    * every removal decision). Tiny relative to the corpus.
    */
  private[graft] def confirmedPairs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "confirmed_pairs")(
      interCounts(s, dir, candidatePairs(s, dir))
        .withColumn("j", col("inter") / (col("na") + col("nb") - col("inter")))
        .filter(col("j") >= JaccardT)
        .select("doc_a", "doc_b"))

  /** One count through the deepest artifact materializes the whole
    * chain (confirmed pairs → candidates → postings) into the cache.
    */
  override def prewarm(s: SparkSession, dir: String): Unit = {
    confirmedPairs(s, dir).count()
    componentLabels(s, dir).count()
    standingIndex(s, dir).count()
    withSimhash(s, dir).count()
    appendBatch(s, dir).count(); ()
  }

  /** Incremental-ingest dedup: the last 20% of the corpus (by doc_id)
    * plays the role of a newly arriving batch checked against the
    * already-ingested 80%. Per new document: the smallest matching
    * existing near-dup (exact-Jaccard-confirmed LSH match, the same
    * J ≥ 0.5 rule as the batch pipeline), the match count, and the
    * admit/reject verdict. Consumes the MATERIALIZED artifact chain
    * (postings → candidates → confirmed pairs) — the production shape,
    * where ingesting a batch probes the standing band index and posting
    * store instead of recomputing the corpus; within-batch dedup stays
    * the batch pipeline's job (q_dedup_pipeline_cc). Cross-boundary
    * candidate pairs always arrive as (old, new) because pair
    * construction orders doc_a < doc_b.
    */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bnd = docs.agg(floor(count(lit(1)) * 0.8).cast("long").as("b"))
    val cross = confirmedPairs(s, dir).crossJoin(broadcast(bnd))
      .filter(col("doc_a") < col("b") && col("doc_b") >= col("b"))
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"), count(lit(1)).as("n_matches"))
    docs.select("doc_id").crossJoin(broadcast(bnd))
      .filter(col("doc_id") >= col("b"))
      .join(cross, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("dup_of").isNull.as("admitted"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .orderBy("doc_id")
  }

  /** Posting-index MAINTENANCE — the append path the incremental-ingest
    * docstring promises, exercised end to end. Two phases:
    *
    *  1. the standing index over the already-ingested 80% is built and
    *     MATERIALIZED (its own artifact key, so this query never
    *     perturbs the full-corpus [[postings]] the other queries share);
    *  2. the arriving batch's postings are shingled and MERGED into the
    *     artifact in place via [[graft.Caches.replace]] — new frame
    *     materialized from the still-cached standing index + batch scan,
    *     old frame unpersisted, nothing else evicted (no other artifact
    *     reads this one). MERGE INTO semantics make the append
    *     idempotent: the batch dedups within itself and anti-joins the
    *     standing doc set, so already-ingested rows never double and the
    *     standing rows stream from cache without a re-shuffle.
    *
    * The output re-probes the UPDATED artifact as an index (per-doc
    * posting count + the doc's hottest document frequency); the oracle
    * computes the same numbers from the full corpus FROM SCRATCH —
    * proving append ≡ rebuild, which is the whole maintenance contract.
    *
    * Cost note: a merge whose increment is EMPTY (every batch row
    * already ingested — exactly what reruns of an idempotent append
    * see) is detected with one batch-sized anti-join probe and skips
    * the artifact rewrite entirely, the same no-op short-circuit a
    * production MERGE INTO takes when the touched-file set is empty.
    * A non-empty merge re-materializes the artifact (the in-memory
    * cache cannot append in place); a production table append writes
    * only the batch-sized increment — `sources/Io.bucketedParquet` is
    * the written-layout face of the same contract.
    */
  private val AppendKind = "postings_append_demo"

  /** The standing 80% index — built in [[prewarm]] (the artifact exists
    * BEFORE any batch arrives, by definition of maintenance).
    */
  private def standingIndex(s: SparkSession, dir: String): DataFrame = {
    val b = math.floor(Tables.rows(s, dir, "documents") * 0.8).toLong // one scalar, as in the CC loop
    // Shingling is PER-DOC, so the 80% index is exactly a doc_id filter
    // of the full posting artifact (filter ∘ shingle ≡ shingle ∘ filter,
    // and dropDuplicates commutes with a doc_id predicate) — derive it
    // from the cache the suite already built instead of paying the md5
    // shingle map a second time over 80% of the corpus.
    graft.Caches.memo(s, dir, AppendKind)(
      postings(s, dir).filter(col("doc_id") < b))
  }

  /** The staged batch increment, built in [[prewarm]] and merged by
    * [[qDedupIndexAppend]]. It is ITSELF an artifact (a production batch
    * arrives as already-shingled staged data): the complementary doc_id
    * filter of the full posting artifact (same per-doc commutation as
    * [[standingIndex]]), memoized so the merge path reads staged rows,
    * never the shingle map.
    */
  private def appendBatch(s: SparkSession, dir: String): DataFrame = {
    val b = math.floor(Tables.rows(s, dir, "documents") * 0.8).toLong
    graft.Caches.memo(s, dir, "append_batch_demo")(
      postings(s, dir).filter(col("doc_id") >= b))
  }

  def qDedupIndexAppend(s: SparkSession, dir: String): DataFrame = {
    // phase 1: the standing artifact (memoized; prewarm built it)
    standingIndex(s, dir).count()
    val batch = appendBatch(s, dir)
    // phase 2: merge the batch in place. MERGE INTO semantics: the
    // batch anti-joins the standing doc set, so the append is
    // idempotent WITHOUT re-shuffling the standing index — the
    // standing rows stream from cache untouched. An EMPTY increment
    // (idempotent rerun) short-circuits: one batch-sized anti-join
    // probe against the cached artifact, no rewrite — the no-op commit
    // path of a production MERGE.
    def increment = batch.join(
      standingIndex(s, dir).select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    val merged =
      if (increment.isEmpty) standingIndex(s, dir)
      else graft.Caches.replace(s, dir, AppendKind) {
        standingIndex(s, dir).unionByName(increment)
      }
    // re-probe the updated index: df lookup per posting, doc-level stats
    val dfreq = merged.groupBy("h").agg(count(lit(1)).as("df"))
    merged.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_postings"), max(col("df")).as("max_df"))
      .orderBy("doc_id")
  }

  /** 48-bit SimHash fingerprint per document (majority vote per bit over
    * word hashes).
    */
  /** SimHash as ONE wide hash aggregate (not nested higher-order folds,
    * which Spark evaluates interpreted — 10×+ slower; and not a 48×
    * bit-position explode, which multiplies the shuffle rows for no
    * information): 48 codegen'd per-bit vote sums over the word-hash
    * rows — map-side partials of 48 longs per doc — then the
    * fingerprint assembled in a plain projection. The same plan shape
    * carries to any corpus size; shuffle volume is docs × one 48-column
    * row.
    */
  private def withSimhash(s: SparkSession, dir: String): DataFrame =
    // MATERIALIZED once per (session, corpus) like the posting index —
    // at scale the per-doc fingerprint is a written artifact, not
    // something recomputed per query; locally this also stops
    // qDedupSimhash's self-join computing the word-explode + 48-vote
    // aggregate TWICE (once per join side — the broadcast side is a
    // fully recomputed subtree, ReuseExchange cannot dedupe a broadcast
    // exchange against a shuffle exchange).
    graft.Caches.memo(s, dir, "simhash_table") {
      val wordHashes = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(w), 1, 12), 16, 10) AS BIGINT)").as("h"))
      val voteCols = (0 until 48).map(b =>
        sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1L).otherwise(-1L)).as(s"v$b"))
      val fp = (0 until 48).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
      wordHashes.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
        .select(col("doc_id"), fp.as("simhash"))
    }

  def qFingerprintSimhash(s: SparkSession, dir: String): DataFrame =
    withSimhash(s, dir).select("doc_id", "simhash").orderBy("doc_id")

  /** SimHash near-dup pairs (hamming ≤ 3) via the 4-chunk pigeonhole
    * join — result is provably identical to the brute-force cross join
    * the oracle runs.
    */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // withSimhash ends in an aggregation exchange, so the fingerprint is
    // materialized once per doc before the self-join fans out pairs.
    val sim = withSimhash(s, dir).select("doc_id", "simhash")
    val chunkArgs = (0 until 4).map(c =>
      s"$c, (shiftright(simhash, ${c * 12}) & 4095)").mkString(", ")
    val chunks = sim.selectExpr("doc_id", "simhash", s"stack(4, $chunkArgs) AS (chunk, v)")
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.v") === col("y.v")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(expr("x.simhash ^ y.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  private val JaccardT = 0.5

  /** n-gram (3-word shingle) Jaccard near-dup pairs via a PREFIX-FILTERED
    * inverted index — the distributed set-similarity-join shape from the
    * public literature (PPJoin / Vernica et al., "Efficient Parallel
    * Set-Similarity Joins Using MapReduce", SIGMOD'10).
    *
    * Rank each document's tokens from globally rarest (ascending df);
    * any pair with J ≥ t must share a token inside BOTH documents'
    * first (n − ⌈t·n⌉ + 1) ranked tokens. So only those PREFIX tokens
    * enter the candidate self-join: prefix tokens are rare by
    * construction (boilerplate shingles rank last and never generate
    * pairs), which bounds the pair explosion without any recall trade —
    * the result is EXACTLY the brute-force J ≥ t set the oracle
    * computes. Candidates are then confirmed with exact counts against
    * the full index ([[interCounts]]).
    */
  def qDedupJaccard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // All four consumers of the posting index (df counts, prefix
    // ranking, both confirm joins) read the one materialized artifact —
    // see [[postings]]. df arrives via a hash aggregate + equi-join on
    // h (partial map-side combine; the join input is (h, df) pairs, far
    // smaller than postings), replacing round-2's window-over-h, whose
    // full posting sort was the measured bottleneck (9–49 s run-to-run
    // on the sf0.1 corpus; GC-sensitive).
    val idxD = postings(s, dir)
    val dfCounts = idxD.groupBy("h").agg(count(lit(1)).as("df"))
    val withDf = idxD.join(dfCounts, "h")
    // Prefix = the (n − ⌈t·n⌉ + 1) globally-rarest tokens of each doc.
    // n is the distinct-STRING count (≥ distinct-hash posting count),
    // which only lengthens the prefix — correctness preserved.
    val ranked = withDf.withColumn("r",
      row_number().over(Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
    val prefix = ranked
      .filter(col("r") <= col("n") - ceil(col("n") * JaccardT) + 1)
      .select("doc_id", "n", "h")
    // Length filter (also lossless): J ≥ t forces the smaller set size
    // to be ≥ t × the larger — inter ≤ min(na,nb) and
    // t·(na+nb−inter) ≤ inter together give least ≥ t·greatest.
    val pairs = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id")
          && least(col("x.n"), col("y.n"))
             >= greatest(col("x.n"), col("y.n")) * JaccardT)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    interCounts(s, dir, pairs)
      .withColumn("j", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("j") >= JaccardT)
      .select("doc_a", "doc_b", "j")
      .orderBy("doc_a", "doc_b")
  }

  /** End-to-end dedup pipeline — the composition a real corpus clean
    * runs: MinHash/LSH candidate pairs (cheap, O(n)+collisions) →
    * exact-Jaccard confirmation ONLY on candidates (the expensive check
    * touches ~|candidates|, never n²) → survivor set = drop the higher
    * doc_id of every confirmed pair. Returns surviving docs.
    */
  def qDedupPipeline(s: SparkSession, dir: String): DataFrame = {
    // Candidate generation and the exact confirm both read materialized
    // artifacts: the posting index and the confirmed pair set
    // ([[confirmedPairs]] — shared with the corpus clean).
    val removed = confirmedPairs(s, dir).select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .join(removed, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** End-to-end corpus clean — the full composition a training-data
    * pipeline runs over raw documents, every stage deterministic and
    * SQL-replayable:
    *
    *   1. quality gate: ≥ 20 whitespace words;
    *   2. language gate: marker-vote language ID agrees with the
    *      labeled language (drops ~56% of this corpus);
    *   3. exact dedup: one survivor (min doc_id) per normalized-text
    *      md5 fingerprint;
    *   4. near-dup removal: MinHash/LSH candidates confirmed at
    *      Jaccard ≥ 0.5 (shared posting index), drop the higher doc_id
    *      of each confirmed pair whose BOTH endpoints survived 1–3
    *      (pair-local predicates ⇒ identical to re-running candidate
    *      generation on the filtered subset).
    *
    * Stages 1–3 are map-only + one tiny fingerprint aggregation; stage 4
    * reuses [[postings]]/[[minhashPairs]]/[[interCounts]] — nothing here
    * adds a shuffle beyond what the standalone queries already pay.
    */
  def qCorpusClean(s: SparkSession, dir: String): DataFrame =
    corpusCleanSurvivors(s, dir).orderBy("doc_id")

  /** The corpus-clean STAGE frames — (raw docs, quality+lang gated,
    * exact-dedup survivors as (doc_id, lang, n_words), near-dup
    * survivors) — shared by [[corpusCleanSurvivors]] and the funnel
    * telemetry ([[qCleanFunnel]]).
    */
  private[queries] def cleanStages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val scored = docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .select(Seq(col("doc_id"), col("lang"), col("n_words"), col("text"))
        ++ TextAnalysis.langScoreCols: _*)
    val gated = scored
      .filter(col("n_words") >= 20 && TextAnalysis.langPred === col("lang"))
    val exact = gated
      .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withColumn("rn", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "n_words")
    val removed = confirmedPairs(s, dir)
      .join(exact.select(col("doc_id").as("doc_a")), "doc_a")
      .join(exact.select(col("doc_id").as("doc_b")), "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
    (docs, gated, exact, exact.join(removed, Seq("doc_id"), "left_anti"))
  }

  /** Stages 1–4 of the corpus clean, unsorted — shared with the
    * end-to-end training-prep capstone ([[Pipelines.qTrainPrep]]).
    * Returns survivors as (doc_id, lang, n_words).
    */
  private[queries] def corpusCleanSurvivors(
      s: SparkSession, dir: String): DataFrame = cleanStages(s, dir)._4

  /** Cleaning FUNNEL telemetry: one row per pipeline stage with its
    * survivor count — the attrition report every corpus-prep run emits
    * so an over-aggressive gate is caught before a training run is
    * wasted. Each stage is one count aggregate over the shared stage
    * frames; the whole funnel is four scalar aggregates unioned.
    */
  def qCleanFunnel(s: SparkSession, dir: String): DataFrame = {
    val (docs, gated, exact, nearSurv) = cleanStages(s, dir)
    def stage(i: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage"), lit(name).as("stage_name"), col("n_docs"))
    stage(0, "raw", docs)
      .unionAll(stage(1, "quality_lang_gate", gated))
      .unionAll(stage(2, "exact_dedup", exact))
      .unionAll(stage(3, "near_dedup", nearSurv))
      .orderBy("stage")
  }

  /** Contaminated training docs (doc_id ≥ 20 overlapping the eval
    * stand-in set by ≥ [[DecontamT]] distinct shingle hashes) — the
    * removal set both decontamination queries and the training-prep
    * capstone share.
    */
  private[queries] def contaminatedDocs(
      s: SparkSession, dir: String): DataFrame = {
    val idx = postings(s, dir)
    val benchHashes = idx.filter(col("doc_id") < 20).select("h").distinct()
    idx.filter(col("doc_id") >= 20)
      .join(broadcast(benchHashes), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= DecontamT)
      .select("doc_id")
  }

  /** Near-dup CLUSTERS: connected components over the confirmed-pair
    * graph, labeling every member with the minimum doc_id reachable from
    * it. This is the grouping step a production dedup actually ships —
    * pairwise removal ("drop the higher id of each pair") under-removes
    * on chains A~B~C where (A,C) was never confirmed; clustering keeps
    * exactly one representative per component.
    *
    * Algorithm: BSP min-label propagation — each iteration is one
    * equi-join (labels onto symmetric edges) + one min-aggregate, both
    * shuffle-partitioned on doc id, i.e. the standard distributed
    * connected-components shape (cf. GraphX/Pregel). Iterations =
    * graph diameter, and near-dup components are shallow (pairs and
    * small chains), so convergence is a handful of rounds; each round
    * localCheckpoints to cut lineage (on a cluster: checkpoint to the
    * shared FS). Convergence test is exact and cheap: labels only ever
    * decrease, so the label SUM strictly decreases until fixpoint.
    */
  def qDedupCluster(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir).orderBy("doc_id")

  /** The component-label table (doc_id → min reachable doc_id) over the
    * confirmed-pair graph — MATERIALIZED once per (session, corpus) like
    * the posting index, because four consumers (cluster listing, size
    * distribution, cluster-aware dedup, leakage-free split) all need the
    * same labels and the BSP propagation is the one iterative (multi-job,
    * driver-synchronized) computation in the suite: re-running it per
    * query multiplies its cost by the consumer count for no information.
    * A production pipeline writes the labels next to the pair artifact;
    * this is the in-session analog.
    */
  private def componentLabels(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "component_labels")(
      components(confirmedPairs(s, dir)))

  /** Near-dup cluster-size distribution — the dedup health metric read
    * before committing a removal pass: how many components of each size
    * the confirmed-pair graph contains (a sudden heavy tail means a
    * mirror exploded or a template flooded the crawl, and doc-by-doc
    * dedup is the wrong response). Two hash aggregates over the
    * component labels (size per cluster, then count per size) — the
    * labels come from the same BSP propagation [[qDedupCluster]] runs,
    * and singletons (docs in no confirmed pair) by construction never
    * enter the edge list, so sizes start at 2.
    */
  def qDedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir)
      .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Per-source curation scorecard — the one-page report a curator
    * reads before deciding per-source treatment: document count, total
    * words, pooled lexical diversity (Σ distinct-words / Σ words — a
    * ratio of exact integer sums, deliberately NOT a mean of per-doc
    * doubles, whose float summation order would diverge across
    * engines), and the near-dup exposure (documents appearing in any
    * confirmed pair, as a fraction). One scan for the word stats, one
    * decoration of the tiny pair artifact, a sources-sized output.
    */
  def qSourceScorecard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        size(col("words")).cast("long").as("nw"),
        size(array_distinct(col("words"))).cast("long").as("nd"))
    val base = docs.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("nw")).as("total_words"),
      sum(col("nd")).as("total_distinct"))
    val cp = confirmedPairs(s, dir)
    val dupDocs = cp.select(col("doc_a").as("doc_id"))
      .union(cp.select(col("doc_b").as("doc_id"))).distinct()
      .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_dup_docs"))
    base.join(dupDocs, Seq("source"), "left")
      .na.fill(0L, Seq("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("total_words"),
        (col("total_distinct").cast("double") / col("total_words"))
          .as("pooled_diversity"),
        col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs")).as("dup_frac"))
      .orderBy("source")
  }

  /** Cross-source duplicate matrix — provenance telemetry over the
    * confirmed near-dup artifact: confirmed pairs counted per
    * (source, source) cell, canonicalized with least/greatest so the
    * matrix is upper-triangular, plus each cell's share of all
    * confirmed pairs. A hot OFF-diagonal cell is the mirror/scraper
    * signature (one source re-hosting another's content) and tells the
    * pipeline which source to drop wholesale instead of deduping
    * doc-by-doc. Cost: two joins that decorate the pair artifact with
    * sources — the pair set is tiny relative to the corpus, so AQE
    * broadcasts it against the doc→source projection and nothing
    * corpus-sized shuffles; the output is sources² rows at most.
    */
  def qDupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select("doc_id", "source")
    val pairs = confirmedPairs(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
    val tot = pairs.agg(count(lit(1)).as("tot"))
    pairs.groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        (col("n_pairs").cast("double") / col("tot")).as("share"),
        (col("source_a") =!= col("source_b")).as("cross_source"))
      .orderBy("source_a", "source_b")
  }

  /** Min-label propagation over an undirected edge list (doc_a, doc_b)
    * → (doc_id, cluster) for every endpoint, cluster = min reachable id.
    * Exposed for PipelinesSpec's synthetic-graph tests.
    */
  private[graft] def components(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
      .localCheckpoint(true)
    var prevSum = labels.agg(sum("cluster")).head().getLong(0)
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      val msgs = sym.join(labels, sym("src") === labels("doc_id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("mc"))
      labels = labels.join(msgs, labels("doc_id") === msgs("dst"), "left")
        .select(labels("doc_id"),
          least(col("cluster"), coalesce(col("mc"), col("cluster"))).as("cluster"))
        .localCheckpoint(true)
      val s1 = labels.agg(sum("cluster")).head().getLong(0)
      converged = s1 == prevSum
      prevSum = s1
      iter += 1
    }
    labels
  }

  /** Cluster-aware dedup pipeline: survivors = every document except
    * non-representative members of near-dup components. Strictly better
    * semantics than [[qDedupPipeline]]'s pairwise rule on chains
    * A~B~C with (A,C) unconfirmed: pairwise keeps {A} but also drops C
    * only if (B,C) confirmed with B surviving — cluster removal keeps
    * exactly one representative (the min doc_id) per component,
    * independent of which particular pairs witnessed the component.
    */
  def qDedupPipelineCc(s: SparkSession, dir: String): DataFrame = {
    val removed = componentLabels(s, dir)
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .join(removed, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Corpus-level overlap estimation by SKETCH: a per-source MinHash
    * signature (the min of each of the [[NumHashes]] hash functions
    * over the source's whole shingle-hash set) and, per source pair,
    * the matching-coordinate fraction — the unbiased estimator of the
    * Jaccard similarity of the two sources' shingle SETS. This answers
    * "how much does crawl A overlap crawl B" with O(|sources|·16)
    * state instead of the doc-pair machinery ([[qDupSourceMatrix]] is
    * the exact per-pair complement): at 10⁵ shards the signature table
    * is 10⁵ rows no matter how many petabytes the shards hold, and
    * signatures of DISJOINT batches merge by coordinate-wise min — the
    * sketch is mergeable, so incremental ingest just min-folds the new
    * batch in.
    *
    * Shape: one hash aggregate (16 min's, map-side partials) over the
    * posting index joined to the doc→source map, then a
    * dimension-sized broadcast self-join for the pair grid. The min is
    * duplicate-insensitive, so running on the deduped index ≡ raw.
    */
  def qSourceSketchSim(s: SparkSession, dir: String): DataFrame = {
    val srcOf = Tables.documents(s, dir).select("doc_id", "source")
    val sigAggs = (0 until NumHashes).map(j =>
      min(expr(sigOf(j, "h"))).as(s"sig$j"))
    val sigs = postings(s, dir).join(srcOf, "doc_id")
      .groupBy("source").agg(sigAggs.head, sigAggs.tail: _*)
    val matches = (0 until NumHashes).map(j =>
      when(col(s"a.sig$j") === col(s"b.sig$j"), 1).otherwise(0))
      .reduce(_ + _).cast("int")
    sigs.as("a").join(broadcast(sigs.as("b")),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        matches.as("n_match"))
      .withColumn("est_jaccard", col("n_match").cast("double") / NumHashes)
      .orderBy("source_a", "source_b")
  }

  /** Leakage-free train/val split: split assignment is keyed by each
    * document's near-dup COMPONENT representative, not the document
    * itself — every member of a near-dup cluster lands in the same
    * split by construction, so a validation doc can never have a
    * near-duplicate in train (the split-leakage failure mode plain
    * per-doc hashing has; deduped-then-split pipelines reintroduce it
    * the moment dedup thresholds and split hashing disagree).
    *
    * Shape: the component labels come from the same BSP propagation
    * [[qDedupCluster]] materializes; singletons (docs in no confirmed
    * pair) never enter the edge list and represent themselves. The
    * split is the [[Sampling]] family's content-stable md5 bucket over
    * the REPRESENTATIVE id — map-only after one left join against the
    * (tiny) component label table, deterministic on any engine.
    */
  /** Quality-aware representative selection: per near-dup component,
    * KEEP the longest member (ties → smallest doc_id) instead of the
    * arbitrary min-id the plain cluster dedup keeps — the policy real
    * curation uses (near-dup clusters usually contain one full document
    * plus truncated/boilerplate-wrapped copies; min-id keeps whichever
    * crawl happened first, keep-best keeps the most complete text).
    * Output is one row per component: its label, size, the winning
    * quality score, and the kept doc.
    *
    * Shape: the component-label artifact (memoized, pair-sized — tiny
    * relative to the corpus) is decorated with a per-doc quality proxy
    * (char length, read from the corpus scan) and reduced with two hash
    * aggregates: best score per cluster, then min doc_id among members
    * achieving it. Deterministic on any engine — no max_by/struct
    * ordering dependence — and nothing corpus-sized shuffles: the join
    * against the label table prunes the scan to cluster members via the
    * broadcast semi-join AQE picks for a dimension-sized build side.
    */
  def qDedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val members = componentLabels(s, dir)
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len")),
        "doc_id")
    val best = members.groupBy("cluster").agg(
      count(lit(1)).as("n_members"), max(col("len")).as("best_len"))
    members.join(best, "cluster")
      .filter(col("len") === col("best_len"))
      .groupBy("cluster", "n_members", "best_len")
      .agg(min(col("doc_id")).as("keep_doc"))
      .select(col("cluster"), col("n_members"), col("best_len"), col("keep_doc"))
      .orderBy("cluster")
  }

  def qClusterSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id")
      .join(componentLabels(s, dir), Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster"), col("doc_id")))
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(rep AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"))
      .withColumn("split", when(col("bucket") < 80, "train").otherwise("val"))
      .select("doc_id", "rep", "bucket", "split")
      .orderBy("doc_id")

  /** Contamination overlap threshold: ≥ this many distinct shared
    * shingle hashes with the benchmark set ⇒ the doc is removed.
    */
  private[queries] val DecontamT = 5

  /** Benchmark decontamination — remove training documents that overlap
    * an evaluation set (here the deterministic stand-in: docs with
    * doc_id < 20). The benchmark's distinct shingle-hash set is tiny
    * relative to the corpus, so the contamination check is a BROADCAST
    * semi-join of the posting index against it plus one count aggregate:
    * map-only over the corpus postings, no corpus-side shuffle beyond
    * the per-doc count — the shape that holds when the corpus is 100 TB
    * and the benchmark is megabytes.
    */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .filter(col("doc_id") >= 20)
      .join(contaminatedDocs(s, dir), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")

  /** Decontamination with a BLOOM prefilter in front of the exact
    * check — same result as [[qDecontaminate]] by construction (a Bloom
    * filter has no false negatives, and the surviving candidates are
    * confirmed against the true hash set), which is exactly why the
    * oracle for both queries is the same SQL.
    *
    * Scale rationale: the broadcast semi-join in [[qDecontaminate]]
    * ships the benchmark's full distinct-hash set to every executor —
    * fine at megabytes, heavy when the eval suite grows to 10^9
    * shingles. The bloom is a fixed few MB at any set size (here
    * `fpp`=1%), so the corpus-side scan drops ~99% of non-contaminated
    * postings before the exact join sees them.
    *
    * The filter never touches the driver: it is built IN-PLAN by Spark's
    * own `bloom_filter_agg` over the bench hashes and fed to the probe
    * as an uncorrelated scalar subquery; the probe is Spark's native
    * `BloomFilterMightContain` (the expression behind its runtime
    * row-level join filters), which stays inside whole-stage codegen —
    * no Scala-closure UDF, no driver-built sketch. The only driver-side
    * scalar is the capacity count, memoized per (session, corpus) by
    * [[graft.Caches.memoSide]]: a hardcoded capacity would silently
    * degrade the false-positive rate — and thus the prefilter's pruning
    * power — once the eval suite outgrows it.
    */
  def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame = {
    val idx = postings(s, dir)
    val benchHashes = idx.filter(col("doc_id") < 20).select("h").distinct()
    // Count-sized capacity (2× headroom), one tiny scalar per corpus.
    val expected = graft.Caches.memoSide(s, dir, "bloom_capacity")(
      math.max(1000L, benchHashes.count() * 2))
    val numBits =
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expected, 0.01)
    val bloom = benchHashes
      .agg(graft.functions.GraftFunctions.bloomAgg(
        col("h"), lit(expected), lit(numBits)))
      .scalar()
    // Exact-confirm set re-derived from the cached posting index (one
    // cheap distinct); the bloom only prunes what reaches this join.
    val removed = idx.filter(col("doc_id") >= 20)
      .filter(graft.functions.GraftFunctions.mightContain(bloom, col("h")))
      .join(broadcast(benchHashes), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= DecontamT)
      .select("doc_id")
    Tables.documents(s, dir).select("doc_id", "lang", "source")
      .filter(col("doc_id") >= 20)
      .join(removed, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** LSH candidate PRECISION — the text-leg health metric paired with
    * the embedding leg's recall telemetry (`q_ann_recall`): of the
    * MinHash band-collision candidates, what fraction confirm at
    * J ≥ [[JaccardT]]. Low precision means the band geometry is wasting
    * exact-confirm compute (too few rows per band); the metric is read
    * before re-tuning bands×rows, and monitored because it drifts as
    * corpus duplication structure changes. Cost: two counts over
    * already-materialized artifacts.
    */
  def qLshPrecision(s: SparkSession, dir: String): DataFrame =
    candidatePairs(s, dir).agg(count(lit(1)).as("n_candidates"))
      .crossJoin(confirmedPairs(s, dir).agg(count(lit(1)).as("n_confirmed")))
      .select(col("n_candidates"), col("n_confirmed"),
        (col("n_confirmed").cast("double") / col("n_candidates"))
          .as("cand_precision"))

  /** Removal PROVENANCE — for every document, WHY the corpus clean kept
    * or dropped it: the first failing stage in gate order
    * (quality_gate → lang_mismatch → exact_dup → near_dup → kept).
    * This is the auditability face of the clean: a data owner asking
    * "where did my document go" gets a one-row answer, and stage-level
    * drop counts reconcile exactly with the funnel telemetry
    * ([[qCleanFunnel]]) by construction, since both read the same
    * stage frames. Cost: the shared stage frames plus two small
    * left-semi decorations; map-sized output.
    */
  def qRemovalReasons(s: SparkSession, dir: String): DataFrame = {
    val (_, _, exact, nearSurv) = cleanStages(s, dir)
    val scored = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .select(Seq(col("doc_id"), col("lang"), col("n_words"))
        ++ TextAnalysis.langScoreCols: _*)
    val inExact = exact.select("doc_id").withColumn("in_exact", lit(true))
    val inNear = nearSurv.select("doc_id").withColumn("in_near", lit(true))
    scored
      .join(inExact, Seq("doc_id"), "left")
      .join(inNear, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_words") < 20, "quality_gate")
          .when(TextAnalysis.langPred =!= col("lang"), "lang_mismatch")
          .when(col("in_exact").isNull, "exact_dup")
          .when(col("in_near").isNull, "near_dup")
          .otherwise("kept").as("reason"))
      .orderBy("doc_id")
  }

  /** Contamination ATTRIBUTION — the per-pair complement of
    * [[qDecontaminate]]'s removal verdict: WHICH eval document leaked
    * into which training document, with the shared-shingle count as
    * evidence strength. The report an eval owner reads before deciding
    * whether a hit is true leakage or a boilerplate collision (pairs
    * with 1–2 shared shingles are noise; the threshold here is 3).
    * Shape: two reads of the materialized posting index, the eval side
    * (benchmark-sized) broadcasts into the equi-join on the hash, and
    * the pair aggregate shuffles only (train, eval, count) triples —
    * output bounded by true overlap, never |train| × |eval|.
    */
  def qContaminationPairs(s: SparkSession, dir: String): DataFrame = {
    val idx = postings(s, dir)
    val evalSide = idx.filter(col("doc_id") < 20)
      .select(col("h"), col("doc_id").as("eval_id"))
    idx.filter(col("doc_id") >= 20)
      .select(col("h"), col("doc_id").as("train_id"))
      .join(broadcast(evalSide), "h")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("train_id", "eval_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_contamination_pairs" -> (qContaminationPairs(_, _)),
    "q_removal_reasons" -> (qRemovalReasons(_, _)),
    "q_lsh_precision" -> (qLshPrecision(_, _)),
    "q_corpus_clean" -> (qCorpusClean(_, _)),
    "q_clean_funnel" -> (qCleanFunnel(_, _)),
    "q_decontaminate" -> (qDecontaminate(_, _)),
    "q_decontaminate_bloom" -> (qDecontaminateBloom(_, _)),
    "q_dedup_pipeline" -> (qDedupPipeline(_, _)),
    "q_dedup_pipeline_cc" -> (qDedupPipelineCc(_, _)),
    "q_dedup_cluster" -> (qDedupCluster(_, _)),
    "q_dedup_keep_best" -> (qDedupKeepBest(_, _)),
    "q_cluster_split" -> (qClusterSplit(_, _)),
    "q_source_sketch_sim" -> (qSourceSketchSim(_, _)),
    "q_dup_source_matrix" -> (qDupSourceMatrix(_, _)),
    "q_dedup_cluster_sizes" -> (qDedupClusterSizes(_, _)),
    "q_source_scorecard" -> (qSourceScorecard(_, _)),
    "q_dedup_minhash" -> (qDedupMinhash(_, _)),
    "q_dedup_incremental" -> (qDedupIncremental(_, _)),
    "q_dedup_index_append" -> (qDedupIndexAppend(_, _)),
    "q_fingerprint_simhash" -> (qFingerprintSimhash(_, _)),
    "q_dedup_simhash" -> (qDedupSimhash(_, _)),
    "q_dedup_jaccard" -> (qDedupJaccard(_, _)))

  // ---- DuckDB oracle SQL (same integer algorithms, brute-force where
  // that is simpler — provably the same result set) ----

  private[queries] val sqlShingles =
    """CASE WHEN len(string_split(text, ' ')) >= 3
      |  THEN list_transform(range(0, len(string_split(text, ' ')) - 2),
      |    i -> string_split(text, ' ')[i + 1] || ' ' ||
      |         string_split(text, ' ')[i + 2] || ' ' ||
      |         string_split(text, ' ')[i + 3])
      |  ELSE [text] END""".stripMargin

  private[queries] val sqlHs =
    s"list_transform(sh, s -> ${sqlHashOf("s")})"

  // Outer CAST: DuckDB list_sum returns HUGEINT, which the driver's
  // comparator reads as float64 and hash-mismatches Spark's int64 even on
  // identical values — force BIGINT at the boundary.
  private val sqlSimhash =
    """CAST(list_sum(list_transform(range(0, 48), b ->
      |  CASE WHEN list_sum(list_transform(ths,
      |      x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin

  /** Shared CTE chain: documents → shingles → minhash sigs → LSH band
    * candidate pairs (no trailing ORDER BY, embeddable).
    */
  private[queries] def sqlMinhashCtes: String = {
    val sigSelects = (0 until NumHashes).map(j =>
      s"list_min(list_transform(hs, x -> ${sigOf(j, "x")})) AS sig$j").mkString(",\n  ")
    val bandSelects = (0 until NumBands).map(b =>
      s"SELECT doc_id, $b AS band, sig${2 * b} AS v1, sig${2 * b + 1} AS v2 FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""WITH shingled AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
       |hashed AS (SELECT doc_id, len(list_distinct(sh)) AS n, $sqlHs AS hs FROM shingled),
       |sigs AS (SELECT doc_id,
       |  $sigSelects
       |FROM hashed),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.v1 = y.v1 AND x.v2 = y.v2
       |    AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** The corpus-clean CTE chain (stages 1–4), ending with `surv`
    * (post-exact-dedup survivors) and `removed` (near-dup removals
    * among them); `dhs` (per-doc distinct hash lists) stays visible for
    * downstream decontamination. Shared by q_corpus_clean and
    * [[Pipelines]]'s training-prep capstone oracle.
    */
  private[queries] def sqlCorpusCleanCtes: String =
    s"""$sqlMinhashCtes,
       |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
       |confirmed AS (
       |  SELECT p.doc_a, p.doc_b
       |  FROM pairs p
       |  JOIN dhs a ON a.doc_id = p.doc_a
       |  JOIN dhs b ON b.doc_id = p.doc_b
       |  WHERE len(list_intersect(a.dh, b.dh))
       |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
       |sc AS (SELECT doc_id, lang, text,
       |  len(string_split(text, ' ')) AS n_words,
       |  len(list_filter(string_split(text,' '), w -> w IN ('der','und','die'))) AS s_de,
       |  len(list_filter(string_split(text,' '), w -> w IN ('the','and','of'))) AS s_en,
       |  len(list_filter(string_split(text,' '), w -> w IN ('el','los','y'))) AS s_es,
       |  len(list_filter(string_split(text,' '), w -> w IN ('le','la','et'))) AS s_fr
       |FROM documents),
       |gated AS (
       |  SELECT doc_id, lang, CAST(n_words AS INTEGER) AS n_words, text
       |  FROM sc
       |  WHERE n_words >= 20 AND (CASE
       |    WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
       |    WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
       |    WHEN s_de >= s_es THEN 'de'
       |    ELSE 'es' END) = lang),
       |exact AS (
       |  SELECT doc_id, lang, n_words,
       |    row_number() OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS rn
       |  FROM gated),
       |surv AS (SELECT doc_id, lang, n_words FROM exact WHERE rn = 1),
       |removed AS (
       |  SELECT DISTINCT c.doc_b AS doc_id
       |  FROM confirmed c
       |  JOIN surv a ON a.doc_id = c.doc_a
       |  JOIN surv b ON b.doc_id = c.doc_b)""".stripMargin

  /** Decontamination threshold, shared with the capstone oracle. */
  private[queries] def decontamThreshold: Int = DecontamT

  /** Shared by q_decontaminate and q_decontaminate_bloom: the bloom is a
    * pure prefilter (no false negatives + exact confirm), so both
    * queries provably produce this same result set.
    */
  private[queries] def sqlDecontaminate: String =
    s"""WITH shingled AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
       |dh AS (SELECT doc_id, list_distinct($sqlHs) AS dh FROM shingled),
       |bench AS (SELECT list(DISTINCT h) AS bl FROM (
       |  SELECT unnest(dh) AS h FROM dh WHERE doc_id < 20)),
       |hits AS (
       |  SELECT d.doc_id,
       |    len(list_filter(d.dh, x -> list_contains(b.bl, x))) AS n_hits
       |  FROM dh d, bench b
       |  WHERE d.doc_id >= 20),
       |removed AS (SELECT doc_id FROM hits WHERE n_hits >= $DecontamT)
       |SELECT doc_id, lang, source FROM documents
       |WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM removed)
       |ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_contamination_pairs" ->
      s"""WITH shingled AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
         |dh AS (SELECT doc_id, list_distinct($sqlHs) AS dh FROM shingled),
         |tr AS (SELECT doc_id AS train_id, unnest(dh) AS h FROM dh WHERE doc_id >= 20),
         |ev AS (SELECT doc_id AS eval_id, unnest(dh) AS h FROM dh WHERE doc_id < 20),
         |p AS (SELECT train_id, eval_id, count(*) AS n_shared
         |  FROM tr JOIN ev USING (h) GROUP BY train_id, eval_id)
         |SELECT train_id, eval_id, n_shared FROM p
         |WHERE n_shared >= 3 ORDER BY train_id, eval_id""".stripMargin,
    "q_decontaminate" -> sqlDecontaminate,
    "q_decontaminate_bloom" -> sqlDecontaminate,
    "q_corpus_clean" ->
      s"""$sqlCorpusCleanCtes
         |SELECT doc_id, lang, n_words FROM surv
         |WHERE doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY doc_id""".stripMargin,
    "q_clean_funnel" ->
      s"""$sqlCorpusCleanCtes
         |SELECT * FROM (
         |  SELECT 0 AS stage, 'raw' AS stage_name,
         |    (SELECT count(*) FROM documents) AS n_docs
         |  UNION ALL SELECT 1, 'quality_lang_gate', (SELECT count(*) FROM gated)
         |  UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM surv)
         |  UNION ALL SELECT 3, 'near_dedup',
         |    (SELECT count(*) FROM surv
         |     WHERE doc_id NOT IN (SELECT doc_id FROM removed)))
         |ORDER BY stage""".stripMargin,
    "q_dedup_minhash" ->
      s"""$sqlMinhashCtes
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "q_removal_reasons" ->
      s"""$sqlCorpusCleanCtes
         |SELECT doc_id,
         |  CASE WHEN n_words < 20 THEN 'quality_gate'
         |    WHEN (CASE
         |      WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
         |      WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
         |      WHEN s_de >= s_es THEN 'de'
         |      ELSE 'es' END) <> lang THEN 'lang_mismatch'
         |    WHEN doc_id NOT IN (SELECT doc_id FROM surv) THEN 'exact_dup'
         |    WHEN doc_id IN (SELECT doc_id FROM removed) THEN 'near_dup'
         |    ELSE 'kept' END AS reason
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_lsh_precision" ->
      s"""$sqlMinhashCtes,
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5)
         |SELECT (SELECT count(*) FROM pairs) AS n_candidates,
         |  (SELECT count(*) FROM confirmed) AS n_confirmed,
         |  CAST((SELECT count(*) FROM confirmed) AS DOUBLE)
         |    / (SELECT count(*) FROM pairs) AS cand_precision""".stripMargin,
    "q_dedup_incremental" ->
      s"""$sqlMinhashCtes,
         |bnd AS (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) AS b FROM documents),
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN bnd ON p.doc_a < bnd.b AND p.doc_b >= bnd.b
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |      / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= $JaccardT),
         |agg AS (SELECT doc_b AS doc_id, CAST(min(doc_a) AS BIGINT) AS dup_of,
         |    count(*) AS n_matches
         |  FROM confirmed GROUP BY doc_b)
         |SELECT d.doc_id,
         |  (a.doc_id IS NULL) AS admitted,
         |  COALESCE(a.dup_of, -1) AS dup_of,
         |  CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches
         |FROM documents d
         |JOIN bnd ON d.doc_id >= bnd.b
         |LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // From-scratch rebuild over the FULL corpus — equality with the
    // Spark side's append-maintained artifact proves append ≡ rebuild.
    "q_dedup_index_append" ->
      s"""WITH shingled AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest($sqlHs) AS h FROM shingled),
         |d AS (SELECT h, count(*) AS df FROM p GROUP BY h)
         |SELECT p.doc_id, count(*) AS n_postings,
         |  CAST(max(d.df) AS BIGINT) AS max_df
         |FROM p JOIN d USING (h)
         |GROUP BY p.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    // Transitive closure by recursive CTE: reach(doc, m) enumerates every
    // node m reachable from doc over the symmetric confirmed-pair edges;
    // min(m) per doc is exactly the propagated min-label fixpoint.
    "q_dedup_cluster" ->
      s"""${sqlMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM confirmed
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM confirmed),
         |reach(doc, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.doc = e.dst)
         |SELECT doc AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin,
    "q_source_sketch_sim" -> {
      val sigSelects = (0 until NumHashes).map(j =>
        s"min(${sigOf(j, "h")}) AS sig$j").mkString(",\n  ")
      val matchSum = (0 until NumHashes).map(j =>
        s"(CASE WHEN a.sig$j = b.sig$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH shingled AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
         |p AS (SELECT DISTINCT doc_id, unnest($sqlHs) AS h FROM shingled),
         |js AS (SELECT d.source, p.h FROM p JOIN documents d USING (doc_id)),
         |sigs AS (SELECT source,
         |  $sigSelects
         |FROM js GROUP BY source)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST($matchSum AS INTEGER) AS n_match,
         |  CAST($matchSum AS DOUBLE) / $NumHashes AS est_jaccard
         |FROM sigs a JOIN sigs b ON a.source < b.source
         |ORDER BY source_a, source_b""".stripMargin
    },
    // Same recursive-CTE labels as q_dedup_cluster, then the keep-best
    // reduction spelled with the identical two-aggregate plan: best
    // length per cluster, min doc_id among the members achieving it.
    "q_dedup_keep_best" ->
      s"""${sqlMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM confirmed
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM confirmed),
         |reach(doc, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.doc = e.dst),
         |cl AS (SELECT doc AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |  FROM reach GROUP BY doc),
         |members AS (SELECT cl.cluster, cl.doc_id,
         |    CAST(length(d.text) AS BIGINT) AS len
         |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id),
         |best AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         |    max(len) AS best_len
         |  FROM members GROUP BY cluster)
         |SELECT b.cluster, b.n_members, b.best_len,
         |  min(m.doc_id) AS keep_doc
         |FROM members m JOIN best b ON m.cluster = b.cluster
         |WHERE m.len = b.best_len
         |GROUP BY b.cluster, b.n_members, b.best_len
         |ORDER BY b.cluster""".stripMargin,
    "q_cluster_split" ->
      s"""${sqlMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM confirmed
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM confirmed),
         |reach(doc, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.doc = e.dst),
         |cl AS (SELECT doc AS doc_id, CAST(min(m) AS BIGINT) AS cluster
         |  FROM reach GROUP BY doc),
         |rp AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |bk AS (SELECT doc_id, rep,
         |  ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
         |FROM rp)
         |SELECT doc_id, rep, bucket,
         |  CASE WHEN bucket < 80 THEN 'train' ELSE 'val' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,
    "q_dedup_cluster_sizes" ->
      s"""${sqlMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM confirmed
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM confirmed),
         |reach(doc, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.doc = e.dst),
         |labels AS (SELECT doc, min(m) AS cluster FROM reach GROUP BY doc),
         |sizes AS (SELECT cluster, count(*) AS cluster_size
         |  FROM labels GROUP BY cluster)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,
    "q_dedup_pipeline_cc" ->
      s"""${sqlMinhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM confirmed
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM confirmed),
         |reach(doc, m) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.m FROM edges e JOIN reach r ON r.doc = e.dst),
         |labels AS (SELECT doc, min(m) AS cluster FROM reach GROUP BY doc),
         |removed AS (SELECT doc AS doc_id FROM labels WHERE doc <> cluster)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY d.doc_id""".stripMargin,
    "q_source_scorecard" ->
      s"""$sqlMinhashCtes,
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |w AS (SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
         |  FROM documents),
         |base AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(nw) AS BIGINT) AS total_words,
         |    CAST(sum(nd) AS BIGINT) AS total_distinct
         |  FROM w GROUP BY source),
         |dup AS (SELECT w.source, count(*) AS n_dup_docs FROM (
         |    SELECT doc_a AS doc_id FROM confirmed
         |    UNION SELECT doc_b AS doc_id FROM confirmed) d
         |  JOIN w ON w.doc_id = d.doc_id
         |  GROUP BY w.source)
         |SELECT base.source, base.n_docs, base.total_words,
         |  CAST(base.total_distinct AS DOUBLE) / base.total_words AS pooled_diversity,
         |  CAST(COALESCE(dup.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
         |  CAST(COALESCE(dup.n_dup_docs, 0) AS DOUBLE) / base.n_docs AS dup_frac
         |FROM base LEFT JOIN dup ON base.source = dup.source
         |ORDER BY base.source""".stripMargin,
    "q_dup_source_matrix" ->
      s"""$sqlMinhashCtes,
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |ps AS (
         |  SELECT least(a.source, b.source) AS source_a,
         |    greatest(a.source, b.source) AS source_b
         |  FROM confirmed c
         |  JOIN documents a ON a.doc_id = c.doc_a
         |  JOIN documents b ON b.doc_id = c.doc_b),
         |t AS (SELECT count(*) AS tot FROM ps)
         |SELECT ps.source_a, ps.source_b, count(*) AS n_pairs,
         |  CAST(count(*) AS DOUBLE) / any_value(t.tot) AS share,
         |  (ps.source_a <> ps.source_b) AS cross_source
         |FROM ps, t
         |GROUP BY ps.source_a, ps.source_b
         |ORDER BY source_a, source_b""".stripMargin,
    "q_dedup_pipeline" ->
      s"""$sqlMinhashCtes,
         |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
         |confirmed AS (
         |  SELECT p.doc_a, p.doc_b
         |  FROM pairs p
         |  JOIN dhs a ON a.doc_id = p.doc_a
         |  JOIN dhs b ON b.doc_id = p.doc_b
         |  WHERE len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
         |removed AS (SELECT DISTINCT doc_b AS doc_id FROM confirmed)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY d.doc_id""".stripMargin,
    "q_fingerprint_simhash" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '),
         |    w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS ths
         |FROM documents)
         |SELECT doc_id, $sqlSimhash AS simhash FROM t ORDER BY doc_id""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(string_split(text, ' '),
         |    w -> ('0x' || substr(md5(w), 1, 12))::BIGINT) AS ths
         |FROM documents),
         |s AS (SELECT doc_id, $sqlSimhash AS simhash FROM t)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM s a, s b
         |WHERE a.doc_id < b.doc_id
         |  AND bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Brute-force all-pairs over the same distinct int64 shingle hashes:
    // proves the df-capped candidate generation lost no J ≥ 0.5 pair at
    // this corpus (hash-set J ≡ string-set J modulo 60-bit collisions,
    // accepted engine-wide).
    "q_dedup_jaccard" ->
      s"""WITH shingled AS (SELECT doc_id, $sqlShingles AS sh FROM documents),
         |s AS (SELECT doc_id, len(list_distinct(sh)) AS n,
         |      list_distinct($sqlHs) AS dh FROM shingled)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) AS j
         |FROM s a, s b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.dh, b.dh))
         |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin)
}
