package graft.queries

import graft.Tables
import graft.operators.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column queries (LLM-pipeline suite).
  *
  * `q_multimodal_meta` — binary-column handling that IS
  * SQL-expressible (payload synthesis, byte length, content digest) —
  * gets a full DuckDB oracle. `q_multimodal_pipeline` exercises the
  * typed mapPartitions pipeline in [[graft.operators.Multimodal]]
  * (stub codec → metadata + features → join → rollup); the stub's
  * math is pure integer/float arithmetic over payload bytes, so the
  * oracle reimplements it value-exactly in SQL — no rows-only
  * cop-out.
  */
object MultimodalQ extends QueryModule {

  /** Binary payload + metadata columns, digest + sizes — pure SQL. */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
        sha2(encode(col("text"), "UTF-8"), 256).as("digest"),
        ascii(col("text")).as("first_code"))
      .orderBy("doc_id")

  /** Full stub pipeline: synth media → decode meta → features → join →
    * per-kind rollup. Map-only until the final tiny aggregation.
    */
  def qMultimodalPipeline(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(s, dir)
    val meta = Multimodal.decodeMeta(media)
    val feats = Multimodal.extractFeatures(media)
    meta.toDF().join(feats.toDF().select(col("id"), col("features")), "id")
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        Q.dsum(col("nBytes")).as("total_bytes"),
        max(col("width")).as("max_width"),
        Q.davg(expr("CAST(element_at(features, 1) AS DOUBLE)")).as("mean_f0"))
      .orderBy("kind")
  }

  /** Resize-then-decode: nearest-neighbor resample every payload to 64
    * bytes, decode the resized media — per-row metadata out, value-exact
    * against the oracle's replay of the same byte sampling.
    */
  def qMultimodalResize(s: SparkSession, dir: String): DataFrame = {
    val resized = Multimodal.resize(Multimodal.syntheticMedia(s, dir), 64)
    Multimodal.decodeMeta(resized).toDF()
      .select("id", "kind", "nBytes", "width", "height")
      .orderBy("id")
  }

  /** Frame-sample-then-decode: keep every 2nd 256-byte "frame" block of
    * each payload (the stub for keyframe sampling), decode the sampled
    * media — per-row metadata out. The sampling is pure byte-position
    * arithmetic, so the oracle replays it value-exactly from the hex
    * view without reconstructing binary.
    */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val sampled = Multimodal.sampleFrames(Multimodal.syntheticMedia(s, dir), 2)
    Multimodal.decodeMeta(sampled).toDF()
      .select("id", "kind", "nBytes", "width", "height", "nFrames")
      .orderBy("id")
  }

  /** Media near-dup pairs: 48-bit perceptual hash (blocked byte-mean
    * aHash, [[Multimodal.StubCodec.perceptualHash]]) over every payload,
    * then hamming ≤ 7 pairs via the SAME pigeonhole discipline as
    * `q_dedup_simhash` — here 8 chunks of 6 bits, since hamming ≤ 7
    * over 48 bits forces at least one of the eight 6-bit chunks to
    * match exactly, so the banded equi-join is a provable superset of
    * the brute-force result the oracle runs. (Perceptual hashes need a
    * wider radius than SimHash's ≤ 3: block means drift under small
    * payload edits more than word-majority votes do.)
    *
    * 100 TB shape: the hash is map-only inside the payload scan
    * (payload bytes never shuffle — only 16-byte (id, phash) rows), the
    * candidate join is a shuffle on (chunk, value) keys, and the final
    * hamming confirm runs per candidate pair. No all-pairs leg
    * anywhere. Radius 7 against a 48-bit hash makes the 6-bit bands
    * the selectivity bottleneck (64 buckets/band); a production media
    * corpus would widen the hash — 256-bit pHash, 8 × 32-bit bands at
    * the same radius-per-band ratio — leaving this plan shape intact.
    */
  def qMultimodalDedup(s: SparkSession, dir: String): DataFrame = {
    val ph = Multimodal.perceptualHashes(Multimodal.syntheticMedia(s, dir))
    val chunkArgs = (0 until 8).map(c =>
      s"$c, (shiftright(phash, ${c * 6}) & 63)").mkString(", ")
    val chunks = ph.selectExpr("id", "phash", s"stack(8, $chunkArgs) AS (chunk, v)")
    chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.v") === col("y.v")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(expr("x.phash ^ y.phash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 7)
      .orderBy("id_a", "id_b")
  }

  /** CROSS-MODAL consistency check — the mismatched-pair telemetry a
    * multimodal corpus prep needs before trusting either modality's
    * dedup alone: every pair flagged near-dup by EITHER the text path
    * (MinHash candidates + exact-Jaccard ≥ 0.5 confirm — the standing
    * `confirmed_pairs` artifact the text dedup already maintains) or
    * the media path (48-bit perceptual hash, hamming ≤ 7 — the
    * [[qMultimodalDedup]] pair set), labeled `both` / `text_only`
    * (text near-dup, images differ — a re-captioned or re-encoded
    * asset) / `image_only` (same imagery under different text — alt-
    * text spam or translation), with the perceptual hamming attached
    * to every pair so the text_only rows carry the evidence of HOW far
    * the images drifted.
    *
    * 100 TB shape: both inputs are banded candidate joins over standing
    * artifacts (no all-pairs leg; payload bytes never shuffle — only
    * 16-byte (id, phash) rows and id pairs), the full-outer join is
    * keyed on the tiny pair sets, and the hash attach is two id
    * equi-joins. The oracle replays both modalities from `documents`
    * alone and the brute-force hamming scan.
    */
  def qMultimodalCrosscheck(s: SparkSession, dir: String): DataFrame = {
    val text = Fingerprints.confirmedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(true).as("text_dup"))
    val img = qMultimodalDedup(s, dir)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        lit(true).as("img_dup"))
    val ph = Multimodal.perceptualHashes(Multimodal.syntheticMedia(s, dir))
    text.join(img, Seq("doc_a", "doc_b"), "full_outer")
      .na.fill(false, Seq("text_dup", "img_dup"))
      .join(ph.select(col("id").as("doc_a"), col("phash").as("pa")), "doc_a")
      .join(ph.select(col("id").as("doc_b"), col("phash").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        when(col("text_dup") && col("img_dup"), "both")
          .when(col("text_dup"), "text_only")
          .otherwise("image_only").as("verdict"),
        bit_count(expr("pa ^ pb")).as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_crosscheck" -> (qMultimodalCrosscheck(_, _)),
    "q_multimodal_meta" -> (qMultimodalMeta(_, _)),
    "q_multimodal_resize" -> (qMultimodalResize(_, _)),
    "q_multimodal_frames" -> (qMultimodalFrames(_, _)),
    "q_multimodal_dedup" -> (qMultimodalDedup(_, _)),
    "q_multimodal_pipeline" -> (qMultimodalPipeline(_, _)))

  /** Shared DuckDB CTE chain `m, b, h`: documents → payload bytes (hex
    * pairs) → 48-bit perceptual hash — ONE spelling for every oracle
    * that reads phashes (dedup + crosscheck), per the no-hand-sync rule.
    */
  private val sqlPhashCtes: String =
    """m AS (
      |  SELECT doc_id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
      |    hex(encode(text)) AS hx
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, nb,
      |    list_transform(range(1, CAST(nb AS INTEGER) + 1),
      |      i -> (strpos('0123456789ABCDEF', substring(hx, CAST(2*i - 1 AS INTEGER), 1)) - 1) * 16
      |         + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i AS INTEGER), 1)) - 1)) AS bytes
      |  FROM m),
      |h AS (
      |  SELECT doc_id,
      |    CASE WHEN nb = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(COALESCE(list_sum(list_transform(range(0, 48), bb ->
      |        CASE WHEN ((bb + 1) * nb) // 48 > (bb * nb) // 48
      |          AND COALESCE(list_sum(
      |                bytes[CAST((bb * nb) // 48 + 1 AS INTEGER)
      |                      : CAST(((bb + 1) * nb) // 48 AS INTEGER)]), 0) * nb
      |              >= COALESCE(list_sum(bytes), 0) * (((bb + 1) * nb) // 48 - (bb * nb) // 48)
      |        THEN CAST(1 AS BIGINT) << CAST(bb AS INTEGER) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
      |    END AS phash
      |  FROM b)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  sha256(text) AS digest,
        |  ascii(text) AS first_code
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Replays resize(64) + StubCodec.decode: bytes from hex pairs,
    // nearest-neighbor index ⌊i·nb/64⌋ (integer division both engines),
    // then the decode width/height formulas over the SAMPLED sum. An
    // empty payload resamples to 64 zero bytes (s = 0), mirroring
    // Multimodal.resize's defined empty case.
    "q_multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
        |    hex(encode(text)) AS hx
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, kind, nb,
        |    list_transform(range(0, 64), i ->
        |      (strpos('0123456789ABCDEF',
        |         substring(hx, CAST(2 * ((i * nb) // 64) + 1 AS INTEGER), 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF',
        |         substring(hx, CAST(2 * ((i * nb) // 64) + 2 AS INTEGER), 1)) - 1)) AS sb
        |  FROM m),
        |d AS (SELECT doc_id, kind,
        |    CAST(CASE WHEN nb = 0 THEN 0
        |      ELSE COALESCE(list_sum(sb), 0) END AS BIGINT) AS s FROM b)
        |SELECT doc_id AS id, kind, CAST(64 AS BIGINT) AS "nBytes",
        |  CAST(64 + (s + 7 * 64) % 1856 AS INTEGER) AS width,
        |  CAST(64 + (s // 7 + 64) % 1016 AS INTEGER) AS height
        |FROM d ORDER BY id""".stripMargin,
    // Replays sampleFrames(2) + decode: kept byte positions are pure
    // index arithmetic ((p // 256) % 2 = 0), byte values from hex
    // pairs, then the decode formulas over the SAMPLED length and sum.
    "q_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
        |    hex(encode(text)) AS hx
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, kind, hx,
        |    list_filter(range(0, CAST(nb AS INTEGER)), i -> (i // 256) % 2 = 0) AS keep
        |  FROM m),
        |d AS (
        |  SELECT doc_id, kind,
        |    CAST(len(keep) AS BIGINT) AS snb,
        |    CAST(COALESCE(list_sum(list_transform(keep, i ->
        |      (strpos('0123456789ABCDEF', substring(hx, CAST(2*i + 1 AS INTEGER), 1)) - 1) * 16
        |      + (strpos('0123456789ABCDEF', substring(hx, CAST(2*i + 2 AS INTEGER), 1)) - 1))),
        |      0) AS BIGINT) AS s
        |  FROM p)
        |SELECT doc_id AS id, kind, snb AS "nBytes",
        |  CAST(64 + (s + 7 * snb) % 1856 AS INTEGER) AS width,
        |  CAST(64 + (s // 7 + snb) % 1016 AS INTEGER) AS height,
        |  CAST(CASE WHEN kind = 'video' THEN 1 + snb % 300 ELSE 1 END AS INTEGER) AS "nFrames"
        |FROM d ORDER BY id""".stripMargin,
    // Replays perceptualHash bit-exactly (bytes from hex pairs; bit b =
    // blocked-mean compare via integer cross-multiply — no float
    // division on either engine), then runs the BRUTE-FORCE hamming ≤ 7
    // pair scan the banded Spark plan must equal. DuckDB list slices
    // are 1-based inclusive, so block [lo, hi) is bytes[lo+1 : hi].
    "q_multimodal_dedup" ->
      s"""WITH $sqlPhashCtes
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash, c.phash)) AS INTEGER) AS hamming
        |FROM h a JOIN h c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.phash, c.phash)) <= 7
        |ORDER BY id_a, id_b""".stripMargin,
    // Both modalities recomputed from documents alone: the minhash CTE
    // chain + the exact-Jaccard confirm (the corpus-clean spelling) for
    // text, the brute-force phash hamming scan for media, full-outer
    // joined with the verdict CASE and the hamming attached pairwise.
    "q_multimodal_crosscheck" ->
      s"""${Fingerprints.sqlMinhashCtes},
        |dhs AS (SELECT doc_id, n, list_distinct(hs) AS dh FROM hashed),
        |confirmed AS (
        |  SELECT p.doc_a, p.doc_b
        |  FROM pairs p
        |  JOIN dhs a ON a.doc_id = p.doc_a
        |  JOIN dhs b ON b.doc_id = p.doc_b
        |  WHERE len(list_intersect(a.dh, b.dh))
        |    / (a.n + b.n - len(list_intersect(a.dh, b.dh))) >= 0.5),
        |$sqlPhashCtes,
        |ip AS (
        |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM h a JOIN h c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.phash, c.phash)) <= 7),
        |u AS (
        |  SELECT coalesce(t.doc_a, i.doc_a) AS doc_a,
        |    coalesce(t.doc_b, i.doc_b) AS doc_b,
        |    t.doc_a IS NOT NULL AS text_dup,
        |    i.doc_a IS NOT NULL AS img_dup
        |  FROM confirmed t FULL OUTER JOIN ip i
        |    ON t.doc_a = i.doc_a AND t.doc_b = i.doc_b)
        |SELECT u.doc_a, u.doc_b,
        |  CASE WHEN text_dup AND img_dup THEN 'both'
        |    WHEN text_dup THEN 'text_only'
        |    ELSE 'image_only' END AS verdict,
        |  CAST(bit_count(xor(ha.phash, hb.phash)) AS INTEGER) AS hamming
        |FROM u JOIN h ha ON ha.doc_id = u.doc_a
        |  JOIN h hb ON hb.doc_id = u.doc_b
        |ORDER BY u.doc_a, u.doc_b""".stripMargin,
    // DuckDB reimplementation of the WHOLE stub pipeline: byte values
    // recovered from hex(payload) pairs; StubCodec.decode's width and
    // StubCodec.features' f0 (fraction of bytes ≡ 0 mod 16, single
    // float division) are pure integer/float math. The float value is
    // reproduced by casting the double quotient to REAL — double
    // rounding differs from the JVM's single float division only within
    // 2^-29 of a representable boundary, i.e. never on this data.
    "q_multimodal_pipeline" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS nb,
         |    hex(encode(text)) AS hx
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, kind, nb,
         |    list_transform(range(1, CAST(nb AS INTEGER) + 1),
         |      i -> (strpos('0123456789ABCDEF', substring(hx, 2*i - 1, 1)) - 1) * 16
         |         + (strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1)) AS bytes
         |  FROM m),
         |d AS (
         |  SELECT doc_id, kind, nb,
         |    CAST(COALESCE(list_sum(bytes), 0) AS BIGINT) AS s,
         |    CAST(COALESCE(list_sum(list_transform(bytes,
         |      x -> CASE WHEN x % 16 = 0 THEN 1 ELSE 0 END)), 0) AS BIGINT) AS c0
         |  FROM b)
         |SELECT kind, count(*) AS n,
         |  ${Q.sqlDsum("nb")} AS total_bytes,
         |  CAST(max(64 + (s + 7 * nb) % 1856) AS INTEGER) AS max_width,
         |  ${Q.sqlDavg("CAST(CAST(CAST(c0 AS DOUBLE) / GREATEST(nb, 1) AS REAL) AS DOUBLE)")} AS mean_f0
         |FROM d GROUP BY kind ORDER BY kind""".stripMargin)
}
