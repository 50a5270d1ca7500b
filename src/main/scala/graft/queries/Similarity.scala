package graft.queries

import graft.Tables
import graft.functions.{GraftFunctions => G}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline similarity search over `embeddings` (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline, a
  * random-hyperplane-LSH banded variant and an IVF-Flat coarse-quantizer
  * variant as the approximate scale paths, and an exact blocked
  * all-pairs join for threshold near-dup pairs.
  *
  * Numeric determinism: per-vector norms fold through exact
  * DECIMAL(30,10) partial sums; all PAIRWISE math (dot products for
  * knn/ann/dedup) runs on 2^20-quantized BIGINT vectors — exact long
  * arithmetic, bit-identical on any engine. Cosines are then one double
  * expression over identical integer scalars.
  *
  * Performance: every pairwise dot is `graft_dotl`, a custom codegen'd
  * Catalyst expression ([[graft.functions.LongDot]]) inlined into the
  * whole-stage loop — a higher-order `aggregate(zip_with(...))` fold
  * computes the same value but runs interpreted, ~10× slower (measured
  * round 1: 28 s → the dominant bench cost).
  *
  * Scale design:
  *  - brute-force kNN is O(|Q|·N) with a broadcast of the query set —
  *    right for small query batches, never for all-pairs;
  *  - ANN buckets vectors by hyperplane sign patterns in B bands of r
  *    planes (band-OR for recall): candidate generation is an equi-join
  *    on (band, bucket) — a shuffle on small integer keys, no cross
  *    join. B/r trade recall vs candidate count;
  *  - threshold near-dup: the PRIMARY path is `qDedupEmbedHybrid` —
  *    sign-LSH band candidates → exact quantized-cosine confirm, no
  *    all-pairs join anywhere in the plan; its driver oracle is brute
  *    force, so the gate proves the candidate stage lost nothing at the
  *    margin-bearing threshold. `qDedupEmbed` remains the exact
  *    ground-truth baseline for zero-margin thresholds: measured on the
  *    testdata, qualifying pairs sit at cos 0.40–0.51 with the non-dup
  *    tail at 0.39, so at τ=0.4 any sign-LSH prefilter drops true
  *    pairs. Its scale-correct exact shape is the blocked all-pairs
  *    join: vectors land in K blocks, the K(K+1)/2 block-cells become
  *    the join key, each cell computes its (n/K)² dots with codegen'd
  *    long arithmetic. Parallelism is O(K²) (no 64-key dim-join
  *    ceiling), shuffle is K+1 replicas of each (id, qvec) row — and K
  *    scales with the cluster. It is O(n²/K²) per cell by nature;
  *    reach for it only when the threshold genuinely has no margin.
  */
object Similarity extends QueryModule {

  private val Dim = 64

  /** Exact decimal fold of `elemExpr(i)` over dims 0..63 → double. */
  private def decSum(elemExpr: String): String =
    s"""CAST(aggregate(
       |  transform(sequence(0, 63), i -> CAST(($elemExpr) AS DECIMAL(30,10))),
       |  CAST(0 AS DECIMAL(30,10)),
       |  (acc, x) -> CAST(acc + x AS DECIMAL(30,10))) AS DOUBLE)""".stripMargin

  private def sqlDecSum(elemExpr: String): String =
    s"""CAST(list_sum(list_transform(range(0, 64),
       |    i -> CAST(($elemExpr) AS DECIMAL(30,10)))) AS DOUBLE)""".stripMargin

  private val normExpr = decSum(
    "CAST(element_at(embedding, i + 1) AS DOUBLE) * CAST(element_at(embedding, i + 1) AS DOUBLE)")
  private val sqlNormExpr = sqlDecSum(
    "CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE)")

  /** Per-vector norms — the array-arithmetic primitive. */
  def qEmbedNorms(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        expr(normExpr).as("norm2"),
        sqrt(expr(normExpr)).as("norm"))
      .orderBy("vec_id")

  /** Quantize a float vector to exact 2^20-scaled BIGINTs — one map-side
    * pass per vector. Pairwise math then runs in long arithmetic; the
    * ~1e-6 quantization error is irrelevant at a 0.4 threshold / rank
    * comparison because BOTH engines rank the same exact integers.
    */
  private val qvecExpr =
    "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  /** vec_id, qv (quantized), n2 = ⟨qv,qv⟩ — MATERIALIZED once per
    * (session, corpus) and shared by the whole similarity family (knn,
    * ann, ivf, both near-dup legs), the same pattern as the dedup
    * suite's posting index: at corpus scale the quantized vectors are a
    * written artifact, not something re-derived per query. Spill-safe.
    */
  private[queries] def quantized(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "quantized_vecs")(
      Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(qvecExpr).as("qv"))
        .repartition(col("vec_id"))
        .withColumn("n2", G.dotl(col("qv"), col("qv"))))

  override def prewarm(s: SparkSession, dir: String): Unit = {
    quantized(s, dir).count()
    bandIds(s, dir).count()
    hybridVecs(s, dir).count()
    knnEdges(s, dir).count(); ()
  }

  /** Per-label centroid vectors — the embedding-space aggregation step
    * of clustering/IVF training and class-prototype pipelines. Shape:
    * posexplode → ONE hash aggregate keyed (label, dim) with map-side
    * partials; the shuffle carries (label, dim, partial-sum) triples —
    * labels×dims rows, independent of corpus size. Numerics are exact:
    * sums of 2^20-quantized longs (≪ 2^53), one double division at the
    * end — bit-identical on any engine.
    */
  def qEmbedCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      // posexplode the RAW embedding and quantize post-explode — keeps
      // the generator input a plain column (codegen'd) instead of a
      // transform-built array (interpreted; see TextAnalysis.bigramIdxExpr).
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), col("pos"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)").as("q"))
      .groupBy("label", "pos")
      .agg((sum(col("q")).cast("double") / (count(lit(1)) * lit(1048576.0)))
        .as("centroid"))
      .orderBy("label", "pos")

  private def qcos(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))

  /** A pair row's exact cosine: query side (qe, qn2), candidate side (ve, vn2). */
  private def pairCos: Column = qcos(G.dotl(col("qe"), col("ve")), col("qn2"), col("vn2"))

  private def querySide(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("qid"), col("qv").as("qe"), col("n2").as("qn2"))

  private def candSide(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("vid"), col("qv").as("ve"), col("n2").as("vn2"))

  /** Brute force: the vectors with vec_id < `nQ` (broadcast) crossed
    * with every other vector, each pair scored `cos`.
    */
  private def bruteScored(emb: DataFrame, nQ: Long): DataFrame =
    broadcast(querySide(emb.filter(col("vec_id") < nQ))).crossJoin(candSide(emb))
      .filter(col("qid") =!= col("vid"))
      .withColumn("cos", pairCos)

  /** Candidate (qid, vid) id pairs with the vectors attached afterwards
    * by two id equi-joins, so no candidate shuffle carries a vector;
    * each pair scored `cos`.
    */
  private def scoreIdPairs(pairs: DataFrame, emb: DataFrame): DataFrame =
    pairs.join(querySide(emb), "qid").join(candSide(emb), "vid")
      .withColumn("cos", pairCos)

  /** Per-qid top-`k` of scored (qid, vid, cos) rows: cos descending, vid
    * ascending on ties, numbered `rank` from 1.
    */
  private def topByCos(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("vid").asc)))
      .filter(col("rank") <= k)
      .select("qid", "vid", "cos", "rank")

  /** Deterministic ±1 hyperplane component for plane j, dim i — computed
    * at PLAN BUILD time in Scala and embedded as array literals in both
    * the Spark plan and the DuckDB oracle, so cross-engine agreement is
    * by construction (no float sign-boundary risk: bucket bits compare
    * exact integer plane dots to 0).
    */
  private def sign(j: Int, i: Int): Long = {
    // splitmix64 finalizer — a full-avalanche mixer. The round-1 weak
    // mixer (x ^ x>>>13 ^ x>>>29 of a LINEAR combination) left adjacent
    // planes' sign patterns heavily correlated: its low bit is the
    // parity of (i + j) xor two carry bits, so the 8 planes of a band
    // agreed on most dims, band buckets clumped far beyond binomial
    // (measured: only 128 of 256 byte values occur, max load 18× the
    // mean on i.i.d. vectors at 10×), and refinement planes from the
    // same family could never split what the band planes clumped.
    var z = ((j + 1).toLong << 32) ^ (i + 1).toLong ^ 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= (z >>> 31)
    if ((z & 1L) == 0L) 1L else -1L
  }
  private def planeLit(j: Int): String =
    (0 until Dim).map(i => sign(j, i)).mkString("array(", ", ", ")")
  private def planeSqlLit(j: Int): String =
    (0 until Dim).map(i => sign(j, i)).mkString("[", ", ", "]")

  /** ANN band geometry: B bands of r planes → 2^r buckets per band;
    * a candidate is any vector sharing ≥1 band bucket with the query
    * (band-OR boosts recall; more bands = more recall, more
    * candidates). Sized for the testdata; production tunes B, r to the
    * corpus similarity profile.
    */
  private val AnnBands = 8
  private val AnnRows = 4

  /** Brute-force cosine top-10 for query vectors vec_id < 5. The query
    * side is broadcast; ranking is a per-query-partitioned window.
    */
  def qEmbedKnn(s: SparkSession, dir: String): DataFrame =
    topByCos(bruteScored(quantized(s, dir), 5L), 10).orderBy("qid", "rank")

  /** One (vec_id, qv, n2, band, bkt) row per vector per band: sign-bit
    * buckets from the fixed hyperplanes, codegen'd integer dots.
    */
  private def banded(s: SparkSession, dir: String): DataFrame = {
    val bucketCols = (0 until AnnBands).map { b =>
      (0 until AnnRows).map { k =>
        when(G.dotl(col("qv"), expr(planeLit(b * AnnRows + k))) > 0, 1 << k)
          .otherwise(0)
      }.reduce(_ + _).as(s"bkt$b")
    }
    val emb = quantized(s, dir)
    val withBkts = emb.select(Seq(col("vec_id"), col("qv"), col("n2")) ++ bucketCols: _*)
    val stackArgs = (0 until AnnBands).map(b => s"$b, bkt$b").mkString(", ")
    withBkts.selectExpr(
      "vec_id", "qv", "n2", s"stack($AnnBands, $stackArgs) AS (band, bkt)")
  }

  /** The standing BAND INDEX (vec_id, band, bkt) — materialized once
    * per (session, corpus), the artifact an ANN ingest pipeline
    * maintains at scale (and deliberately WITHOUT the vectors: band
    * rows are the shuffle/probe structure, the vector store is
    * [[quantized]] — the ID-only discipline applied to storage, not
    * just shuffles; materializing band rows WITH vectors would persist
    * 8 copies of every embedding).
    */
  private def bandIds(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "band_index")(
      banded(s, dir).select("vec_id", "band", "bkt"))

  /** LSH-banded ANN: B×r fixed hyperplanes → per-band sign buckets;
    * candidates share ≥1 band bucket with the query (equi-join on
    * (band, bucket)), then exact-cosine rank, top-5. ID pairs only in
    * the candidate join/dedup; vectors attach to survivors via two id
    * equi-joins (same discipline as [[multiProbeNeighbors]]).
    */
  def qEmbedAnn(s: SparkSession, dir: String): DataFrame = {
    val bands = bandIds(s, dir)
    val emb = quantized(s, dir)
    val q = bands.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("band"), col("bkt"))
    val cand = broadcast(q).join(
        bands.select(col("vec_id").as("vid"), col("band"), col("bkt")),
        Seq("band", "bkt"))
      .filter(col("qid") =!= col("vid"))
      // a pair matching several bands carries identical payloads — one
      // row per (qid, vid) survives, the dot computed once
      .dropDuplicates("qid", "vid")
    topByCos(scoreIdPairs(cand, emb), 5).orderBy("qid", "rank")
  }

  /** IVF-Flat coarse quantizer geometry: [[IvfK]] centroid lists, each
    * query probes its [[IvfProbe]] nearest lists. Centroids here are
    * DETERMINISTIC seed vectors (vec_id < IvfK) so the oracle can
    * replay the exact algorithm; production swaps in k-means centroids
    * trained offline — the query shape (broadcast centroids → map-only
    * argmax assignment → equi-join on list id) is identical, and is the
    * IVF scale path: candidates shuffled per query ≈ nprobe/K of the
    * corpus instead of all of it.
    */
  private val IvfK = 16
  private val IvfProbe = 4

  /** Every vector crossed with the broadcast seed centroids (vec_id <
    * [[IvfK]]) as (cid, cv, cn2) rows scored `ccos` — the assignment
    * input of IVF, k-means, semantic dedup and cluster balance.
    */
  private def seedScored(emb: DataFrame): DataFrame = {
    val cents = emb.filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("cid"), col("qv").as("cv"), col("n2").as("cn2"))
    emb.crossJoin(broadcast(cents))
      .withColumn("ccos", qcos(G.dotl(col("qv"), col("cv")), col("n2"), col("cn2")))
  }

  /** `payload` of the nearest seed: max ccos, min cid on ties. */
  private def nearestSeed(payload: Column): Column =
    max_by(payload, struct(col("ccos"), (-col("cid")).as("tb")))

  /** IVF-Flat ANN: assign every vector to its max-cosine centroid
    * (broadcast argmax as a `max_by` HASH AGGREGATE — the K centroid
    * rows per vector collapse map-side before any shuffle, no
    * per-vector sort window), probe the query's nearest [[IvfProbe]]
    * lists via equi-join on the list id, exact cosine rank within
    * candidates, top-5.
    */
  def qEmbedIvf(s: SparkSession, dir: String): DataFrame = {
    val scored = seedScored(quantized(s, dir))
    // argmax with a total order (max cos, min cid tie-break): map-side
    // partials shrink K rows/vector to 1 — measurably less shuffle than
    // a row_number window at 10^9 vectors, same result
    val ivf = scored.groupBy("vec_id")
      .agg(nearestSeed(struct(col("cid"), col("qv"), col("n2"))).as("best"))
      .select(col("best.cid").as("cid"), col("vec_id").as("vid"),
        col("best.qv").as("ve"), col("best.n2").as("vn2"))
    // probe lists for the 5 queries: top-IvfProbe centroids per query
    // from one tiny sorted-array aggregate — still no window
    val probes = scored.filter(col("vec_id") < 5)
      .groupBy("vec_id")
      .agg(first(col("qv")).as("qe"), first(col("n2")).as("qn2"),
        slice(sort_array(collect_list(
          struct((-col("ccos")).as("nc"), col("cid")))), 1, IvfProbe).as("top"))
      .select(col("vec_id").as("qid"), col("qe"), col("qn2"),
        explode(col("top.cid")).as("cid"))
    val cand = broadcast(probes).join(ivf, Seq("cid"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("cos", pairCos)
    topByCos(cand, 5).orderBy("qid", "rank")
  }

  /** One Lloyd iteration of k-means over the corpus vectors, seeded
    * with the IVF coarse centroids (vec_id < [[IvfK]]) — the training
    * step behind [[qEmbedIvf]]'s coarse quantizer: broadcast-argmax
    * assignment (max cosine, cid tie-break — the same plan as IVF list
    * assignment), then the new centroid of each list as the per-(cid,
    * dim) mean via posexplode → ONE hash aggregate with map-side
    * partials. Shuffle carries (cid, dim, partial sum) triples — K×dims
    * rows, independent of corpus size — so iterating to convergence is
    * K×dims-bounded per round at any scale. Numerics exact: sums of
    * 2^20-quantized longs, one double division at the end.
    */
  def qKmeansIter(s: SparkSession, dir: String): DataFrame =
    // same max_by hash-agg argmax as the IVF assignment: partial
    // aggregation collapses the K candidate rows per vector map-side,
    // no per-vector sort window in the plan
    seedScored(quantized(s, dir)).groupBy("vec_id")
      .agg(nearestSeed(struct(col("cid"), col("qv"))).as("best"))
      .select(col("best.cid").as("cid"), posexplode(col("best.qv")).as(Seq("pos", "q")))
      .groupBy("cid", "pos")
      .agg(count(lit(1)).as("n_members"),
        (sum(col("q")).cast("double") / (count(lit(1)) * lit(1048576.0)))
          .as("centroid"))
      .orderBy("cid", "pos")

  /** Top-[[GraphK]] cosine neighbor graph over ALL vectors — the input
    * to semantic dedup / clustering (vs [[qEmbedAnn]], which ranks for
    * a small query set only). Candidates come from the same band-OR
    * sign-LSH equi-join; the cosine is computed BEFORE the pair dedup
    * so the distinct and the ranking window shuffle only (qid, vid,
    * cos) triples, never the vectors. Per-vector work is bucket-sized,
    * not corpus-sized; the graph is recall-approximate exactly like any
    * production kNN-graph build.
    */
  private val GraphK = 3

  /** The ranked top-[[GraphK]] edge set (qid, vid, cos, rank) — shared
    * by [[qKnnGraph]] (presentation), [[qLabelProp]]-style consumers,
    * [[qHardNegatives]] and [[qGraphTriangles]], and therefore
    * MATERIALIZED once per (session, corpus) like the posting index: a
    * production pipeline writes the kNN graph as a table and every
    * graph consumer (propagation, mining, triangles) reads it — four
    * queries re-running the band join + ranking window is cost × 4 for
    * the identical edges.
    */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "knn_graph")(knnEdgesBuild(s, dir))

  private def knnEdgesBuild(s: SparkSession, dir: String): DataFrame = {
    val bands = banded(s, dir)
    val cand = bands
      .select(col("vec_id").as("qid"), col("qv").as("qe"),
        col("n2").as("qn2"), col("band"), col("bkt"))
      .join(bands.select(col("vec_id").as("vid"), col("qv").as("ve"),
        col("n2").as("vn2"), col("band"), col("bkt")),
        Seq("band", "bkt"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("cos", pairCos)
      .select("qid", "vid", "cos")
      .dropDuplicates("qid", "vid")
    topByCos(cand, GraphK)
  }

  def qKnnGraph(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir)
      .select("qid", "vid", "cos", "rank")
      .orderBy("qid", "rank")

  /** Contrastive hard-example mining over the [[knnEdges]] neighbor
    * graph — for every vector, its most similar DIFFERENT-label
    * neighbor (the hard negative a contrastive/embedding-training batch
    * builder wants) and its most similar same-label neighbor (the easy
    * positive), plus the cosine margin between them. A small (or
    * negative) margin flags label noise / boundary examples — the rows
    * an active-learning loop sends for re-annotation.
    *
    * Shape: the graph edges join the (vec_id, label) table twice — both
    * joins shuffle on vec_id, the same co-partitioning the graph build
    * already produced — then ONE `max_by` hash aggregate per side
    * (map-side partials, no per-vector sort window). Shuffle carries
    * (qid, vid, cos, label) quads, never vectors; at 10⁹ vectors the
    * label table is a column of the embedding store, not a broadcast.
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val lbl = Tables.embeddings(s, dir).select("vec_id", "label")
    val g = knnEdges(s, dir)
      .join(lbl.select(col("vec_id").as("qid"), col("label").as("ql")), "qid")
      .join(lbl.select(col("vec_id").as("vid"), col("label").as("vl")), "vid")
    def top(pred: Column, out: String): DataFrame =
      g.filter(pred).groupBy("qid")
        .agg(max_by(struct(col("vid"), col("cos")),
          struct(col("cos"), (-col("vid")).as("tb"))).as(out))
    val neg = top(col("ql") =!= col("vl"), "hn")
    val pos = top(col("ql") === col("vl"), "hp")
    lbl.join(neg, col("vec_id") === neg("qid"), "left").drop("qid")
      .join(pos, col("vec_id") === pos("qid"), "left").drop("qid")
      .select(col("vec_id"), col("label"),
        col("hn.vid").as("hn_vid"), col("hn.cos").as("hn_cos"),
        col("hp.vid").as("hp_vid"), col("hp.cos").as("hp_cos"),
        (col("hp.cos") - col("hn.cos")).as("margin"))
      .orderBy("vec_id")
  }

  /** Per-vertex triangle count + local clustering coefficient over the
    * UNDIRECTED [[knnEdges]] graph — the graph-health metric read
    * before trusting a kNN graph for label propagation or semantic
    * dedup (a near-zero coefficient means the LSH candidates are noise;
    * a high one means real neighborhoods). Triangles are counted with
    * the standard distributed oriented-edge join: orient every edge
    * a < b, join ab⋈bc on the middle vertex, then confirm ac exists —
    * each triangle is produced exactly once as a < b < c, so the
    * shuffle is two equi-joins on vertex ids (worst case Σdeg², the
    * published bound for this plan) and NEVER an all-pairs product.
    * Degrees and per-vertex counts are hash aggregates with map-side
    * partials; the coefficient is one double division of exact ints.
    */
  def qGraphTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = knnEdges(s, dir)
      .select(least(col("qid"), col("vid")).as("a"),
        greatest(col("qid"), col("vid")).as("b"))
      .distinct()
    val tri = e.as("ab")
      .join(e.as("bc"), col("ab.b") === col("bc.a"))
      .join(e.as("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .select(col("ab.a").as("x"), col("ab.b").as("y"), col("bc.b").as("z"))
    val nt = tri.select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("nt"))
    val deg = e.select(col("a").as("vec_id"))
      .unionAll(e.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("d"))
    Tables.embeddings(s, dir).select("vec_id")
      .join(deg, Seq("vec_id"), "left")
      .join(nt, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("d"), lit(0L)).as("degree"),
        coalesce(col("nt"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          (col("n_triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)))
      .orderBy("vec_id")
  }

  /** Synchronized label-propagation rounds over the kNN graph. */
  private val PropRounds = 3

  /** Semi-supervised label propagation over the [[qKnnGraph]] LSH
    * neighbor graph: 20% of vectors (vec_id % 5 == 0) keep their true
    * label as seeds; every other vector repeatedly adopts the majority
    * label of its top-[[GraphK]] neighbors (ties → smallest label),
    * keeping its previous label when no neighbor is labeled yet.
    * [[PropRounds]] synchronized rounds — the classic BSP shape: per
    * round ONE edge⋈label hash join (shuffle on vid), one (qid, label)
    * count aggregate and one `max_by` argmax aggregate, all with
    * map-side partials; no windows, no driver-side state beyond the
    * loop counter. The edge list is computed once and localCheckpoint'd
    * so the rounds re-read it instead of re-deriving the LSH graph.
    * At 10⁹ nodes each round shuffles k·n (qid, label) pairs — linear
    * in the corpus, skew-bounded by k.
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame =
    // the BSP loop checkpoints per round — memoized as a derived
    // artifact so re-construction is action-free (PlanGuardSpec)
    graft.Caches.memoSide(s, dir, "q_label_prop_result") {
      qLabelPropBuild(s, dir)
    }

  private def qLabelPropBuild(s: SparkSession, dir: String): DataFrame = {
    val edges = qKnnGraph(s, dir).select("qid", "vid").localCheckpoint()
    val nodes = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), (col("vec_id") % 5 === 0).as("seed"))
    var lbl = nodes.withColumn("lbl", when(col("seed"), col("label")))
    for (_ <- 1 to PropRounds) {
      val votes = edges
        .join(lbl.select(col("vec_id").as("vid"), col("lbl").as("nl")), "vid")
        .filter(col("nl").isNotNull)
        .groupBy(col("qid"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("qid"))
        // argmax as a hash aggregate, not a per-qid sort window:
        // max count first, then smallest label on ties
        .agg(max_by(col("nl"), struct(col("cnt"), -col("nl"))).as("vote"))
        .withColumnRenamed("qid", "vec_id")
      // cut the round's lineage so round r+1 (and the final projection)
      // read the materialized state instead of re-deriving every prior
      // round's joins — same per-round truncation as the CC loop
      lbl = lbl.join(votes, Seq("vec_id"), "left")
        .withColumn("lbl",
          when(col("seed"), col("label")).otherwise(coalesce(col("vote"), col("lbl"))))
        .drop("vote")
        .localCheckpoint()
    }
    lbl.select(col("vec_id"), col("seed"), col("label").as("true_label"),
      col("lbl").as("label"))
      .orderBy("vec_id")
  }

  /** PQ geometry: [[PqSubs]] subspaces of [[PqDim]] dims, [[PqK]]
    * centroids per subspace (codebook = the seed vectors' subvectors,
    * deterministic like the IVF coarse centroids, so the oracle replays
    * the exact algorithm; production trains the codebook with
    * [[qKmeansIter]]'s plan per subspace).
    */
  private val PqSubs = 8
  private val PqDim = 8
  private val PqK = 16

  /** (id, s, sv) — every vector split into its 8-dim subvectors; the
    * shared explode for PQ encode and query ADC tables.
    */
  private def pqSubvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("qv"),
      explode(expr(s"sequence(0, ${PqSubs - 1})")).as("s"))
      .select(col("vec_id"), col("s"),
        expr(s"slice(qv, s * $PqDim + 1, $PqDim)").as("sv"))

  /** Product-quantization ANN — the memory-bound scale path of the ANN
    * family (vs sign-LSH's recall path and IVF's partition path): every
    * vector compresses to [[PqSubs]] one-byte codes (here: argmin
    * squared-L2 subvector assignment against a broadcast codebook),
    * and each query scores candidates through its asymmetric-distance
    * table (query-subvector × centroid distances, PqSubs × PqK entries
    * — tiny, broadcast) with ONE equi-join on (subspace, code) + a sum
    * aggregate: the corpus-side work per query is a lookup-join over
    * 8-byte codes, never the vectors. All distances are exact integer
    * arithmetic over the shared 2^20-quantized vectors (squared L2 via
    * dotl: ⟨a,a⟩ + ⟨b,b⟩ − 2⟨a,b⟩, codegen'd), so ranking is
    * value-exact cross-engine. Top-5 per query by approximated
    * distance, vid tie-break.
    */
  /** Exact integer squared L2 between subvector columns, codegen'd. */
  private def pqSq: Column =
    G.dotl(col("sv"), col("sv")) + G.dotl(col("cv"), col("cv")) -
      lit(2L) * G.dotl(col("sv"), col("cv"))

  /** The PQ encode + ADC scoring tail over any codebook `cents`
    * (columns c, s, cv) — shared by the seed-codebook and trained
    * variants.
    */
  private def pqAnnWith(subs: DataFrame, cents: DataFrame): DataFrame = {
    val dists = subs.join(broadcast(cents), Seq("s")).withColumn("d", pqSq)
    // encode: per (vector, subspace) the nearest centroid's id —
    // argmin as min(struct(d, c)) in a HASH aggregate (lexicographic
    // struct ordering = min distance, centroid-id tie-break), not a
    // row_number sort window: partial aggregation runs map-side and
    // nothing sorts, which is the shape that holds when the corpus ×
    // codebook product is billions of rows
    val codes = dists.groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d"), col("c"))).as("m"))
      .select(col("vec_id").as("vid"), col("s"), col("m.c").as("c"))
    // ADC tables for the query set: (qid, s, c) → exact subvector
    // distance to centroid c
    val dtab = dists.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("s"), col("c"), col("d"))
    val scored = codes.join(broadcast(dtab), Seq("s", "c"))
      .filter(col("qid") =!= col("vid"))
      .groupBy("qid", "vid").agg(sum(col("d")).as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist").asc, col("vid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "vid", "dist", "rank")
      .orderBy("qid", "rank")
  }

  def qEmbedPq(s: SparkSession, dir: String): DataFrame = {
    val emb = quantized(s, dir)
    val cents = pqSubvectors(emb.filter(col("vec_id") < PqK))
      .select(col("vec_id").as("c"), col("s"), col("sv").as("cv"))
    pqAnnWith(pqSubvectors(emb), cents)
  }

  /** One deterministic Lloyd round per subspace: argmin assignment
    * (same min-struct hash agg as the encode stage), then the new
    * centroid as the FLOORED per-dim mean — sums of quantized longs
    * stay < 2^53, so the double division and floor are exact and the
    * codebook remains integer, bit-identical cross-engine. Shuffle per
    * round carries (s, c, pos, partial sum) — subspaces × K × dims
    * rows, independent of corpus size, the same bound as
    * [[qKmeansIter]].
    */
  private def pqLloydRound(subs: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = subs.join(broadcast(cents), Seq("s"))
      .withColumn("d", pqSq)
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("d"), col("c"))).as("m"),
        first(col("sv")).as("sv")) // sv is constant per (vec_id, s)
    assigned
      .select(col("s"), col("m.c").as("c"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("s", "c", "pos")
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("cv1"))
      .groupBy("s", "c")
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv1))), x -> x.cv1)")
        .as("cv"))
  }

  private val PqTrainRounds = 2

  /** PQ over TRAINED codebooks — [[qEmbedPq]] with the seed subvectors
    * replaced by [[PqTrainRounds]] Lloyd iterations per subspace (the
    * production codebook source the seed variant's scaladoc promises).
    * Every round is the same bounded plan, so training to convergence
    * is rounds × (subspaces × K × dims) shuffle at any corpus size; the
    * oracle replays the identical iterations.
    */
  def qEmbedPqTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = quantized(s, dir)
    val subs = pqSubvectors(emb)
    // The trained codebook is a per-corpus ARTIFACT (a production PQ
    // index trains it once and every encode/query reuses it), so the
    // Lloyd rounds run once per (session, corpus) — the memo holds the
    // final 128-row table, and each round still localCheckpoints so
    // downstream consumers (encode, ADC build, the broadcast) read a
    // materialized table instead of re-running the training chain.
    val cents = graft.Caches.memo(s, dir, "pq_codebook") {
      var c = pqSubvectors(emb.filter(col("vec_id") < PqK))
        .select(col("vec_id").as("c"), col("s"), col("sv").as("cv"))
      for (_ <- 0 until PqTrainRounds)
        c = pqLloydRound(subs, c).localCheckpoint()
      c
    }
    pqAnnWith(subs, cents)
  }

  /** Approximate near-dup via the bucket-candidate → exact-confirm
    * composition — the PRIMARY shape at corpus scale for thresholds
    * with sign-LSH margin (τ ≥ ~0.8): candidate pairs share ≥1 band
    * bucket (equi-join on (band, bucket) — shuffle on small integer
    * keys, never all-pairs), then the exact quantized cosine confirms
    * at the threshold. Same structure as the text dedup pipeline
    * (MinHash candidates → exact Jaccard confirm). Deterministic planes
    * mean the oracle replays the identical algorithm, so this is
    * value-exact cross-engine despite being recall-approximate vs
    * [[qDedupEmbed]]'s exact blocked all-pairs (which stays the
    * ground-truth leg: at THIS corpus's τ=0.40 with a 0.39 tail the
    * band filter drops true pairs, documented in the object scaladoc).
    */
  def qDedupEmbedLsh(s: SparkSession, dir: String): DataFrame = {
    val bands = banded(s, dir)
    // Only the ID pair flows through the band join + distinct (column
    // pruning keeps vector payloads out of that shuffle); vectors
    // attach to the surviving candidates afterwards — same discipline
    // as the text pipeline's candidates-then-confirm.
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
      .dropDuplicates("ida", "idb")
    val emb = quantized(s, dir)
    cand
      .join(emb.select(col("vec_id").as("ida"), col("qv").as("qa"), col("n2").as("na")), "ida")
      .join(emb.select(col("vec_id").as("idb"), col("qv").as("qb"), col("n2").as("nb")), "idb")
      .withColumn("cos", qcos(G.dotl(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cos") >= 0.40)
      .select("ida", "idb", "cos")
      .orderBy("ida", "idb")
  }

  // ---- hybrid near-dup: the PRIMARY path at margin-bearing thresholds ----

  /** Hybrid geometry: 12 bands × 8 planes (plane ids offset from the
    * ANN family's). At the planted-pair cosine (≥ 0.98) a single plane
    * agrees w.p. ≥ 0.94, a band w.p. ≥ 0.6, and missing all 12 bands
    * happens w.p. < 1e-6 per pair — empirically complete on every test
    * corpus (the oracle is brute force, so the driver gate checks exact
    * equality, not "close").
    */
  private val HybBands = 12
  private val HybRows = 8
  private val HybPlaneOff = 1000
  private val HybT = 0.9

  /** Candidate BUDGET for the hybrid path: per-(band, bucket) membership
    * cap before refinement kicks in, extra sign planes per refinement
    * level, refinement plane-id offset, and the level bound (cap·2⁸ᵈ at
    * d = 4 exceeds any real bucket). Rationale: with a fixed 2⁸ buckets
    * per band, bucket size grows ∝ corpus and candidate cost ∝ Σ|bucket|²
    * — the one measured superlinear leg (≈40× cost for 10× margin-less
    * i.i.d. vectors at round 9). Splitting every over-cap bucket with
    * additional deterministic hyperplanes bounds per-bucket pair count by
    * cap²/2, making candidate cost linear in the corpus again.
    */
  private val HybBucketCap = 32
  private val HybSplitBits = 8
  private val HybSplitOff = 5000
  private val HybMaxDepth = 4

  /** The deterministic near-dup plant: every 5th vector re-appears
    * (id + 1,000,000) with per-dim scale factors 1 + 0.06·((i mod 4) −
    * 1.5) ∈ {0.91, 0.97, 1.03, 1.09} — cos(v, v′) ≥ 0.98 for any mass
    * distribution, ≈ 0.998 on real embeddings, while unrelated pairs
    * stay below 0.52. Pure double IEEE arithmetic with the identical
    * expression tree on both engines, so the augmented corpus is
    * bit-identical cross-engine.
    */
  private val plantScale = "(1.0D + 0.06D * (CAST(i % 4 AS DOUBLE) - 1.5D))"
  private def augQvec(scaled: Boolean): String = {
    val elem = s"CAST(element_at(embedding, i + 1) AS DOUBLE)" +
      (if (scaled) s" * $plantScale" else "")
    s"transform(sequence(0, 63), i -> CAST(round(($elem) * 1048576.0D) AS BIGINT))"
  }

  /** Quantized augmented corpus (originals ∪ planted near-dups) —
    * memoized like [[quantized]]; the hybrid's candidate and confirm
    * stages both read it.
    */
  private def hybridVecs(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "hybrid_vecs") {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), expr(augQvec(scaled = false)).as("qv"))
      val planted = Tables.embeddings(s, dir)
        .filter(pmod(col("vec_id"), lit(5)) === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr(augQvec(scaled = true)).as("qv"))
      base.unionAll(planted)
        .repartition(col("vec_id"))
        .withColumn("n2", G.dotl(col("qv"), col("qv")))
    }

  /** The budget-refined hybrid band table — memoized per corpus: the
    * refinement loop runs count actions, so consumers (the dedup query
    * and the ScaleStress fan-out bound) share one build.
    */
  private[graft] def hybridBands(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, dir, "hybrid_bands")(
      refineBuckets(bandedOf(hybridVecs(s, dir), HybBands, HybRows, HybPlaneOff)))

  /** Per-(band, bkt, sub) sizes of the refined table plus the cap — the
    * ScaleStress fan-out assertion reads this.
    */
  private[graft] def hybridBucketProfile(s: SparkSession, dir: String): (Long, Int) = {
    val mx = hybridBands(s, dir).groupBy("band", "bkt", "sub")
      .agg(count(lit(1)).as("cnt")).agg(max("cnt")).first().getLong(0)
    (mx, HybBucketCap)
  }

  /** Sign-LSH band/bucket rows for an arbitrary quantized frame —
    * [[banded]] generalized to the hybrid's geometry.
    */
  private def bandedOf(df: DataFrame, nBands: Int, nRows: Int, off: Int): DataFrame = {
    val bucketCols = (0 until nBands).map { b =>
      (0 until nRows).map { k =>
        when(G.dotl(col("qv"), expr(planeLit(off + b * nRows + k))) > 0, 1 << k)
          .otherwise(0)
      }.reduce(_ + _).as(s"bkt$b")
    }
    val withBkts = df.select(Seq(col("vec_id"), col("qv"), col("n2")) ++ bucketCols: _*)
    val stackArgs = (0 until nBands).map(b => s"$b, bkt$b").mkString(", ")
    withBkts.selectExpr(
      "vec_id", "qv", "n2", s"stack($nBands, $stackArgs) AS (band, bkt)")
  }

  /** PRIMARY embedding near-dup: sign-LSH band candidates → exact
    * quantized-cosine confirm at a margin-bearing threshold (τ = 0.9
    * over the planted corpus). The plan has NO all-pairs block join —
    * candidate generation is an equi-join on (band, bucket) integer
    * keys whose cost is bucket-collision-sized, then the exact confirm
    * touches candidates only: the composition that replaces
    * [[qDedupEmbed]]'s quadratic exact leg whenever the threshold has
    * sign-LSH margin, mirroring the text pipeline's MinHash-candidates
    * → exact-Jaccard-confirm chain (`Fingerprints.scala` confirmed
    * pairs). The oracle is the same brute-force all-pairs SQL shape as
    * q_dedup_embed, so the driver gate proves the candidates lost
    * nothing. [[qDedupEmbed]] stays the exact ground-truth baseline for
    * zero-margin thresholds.
    */
  /** Budget refinement: extend every over-cap (band, bkt, sub) bucket's
    * key with [[HybSplitBits]] additional deterministic sign planes,
    * repeating (fresh planes per level) until all buckets fit the cap or
    * [[HybMaxDepth]] levels ran. Members of one bucket move TOGETHER, so
    * the decision is a pure function of the data (partition-invariant),
    * and EXACT duplicates can never be separated (identical vectors ⇒
    * identical refinement bits at every level) — planted-recall checks
    * stay strict. Near-identical pairs inside an over-cap bucket keep
    * colliding in that band w.p. ≥ 0.94^bits per level and keep their 11
    * other band chances; at test scales (sf ≤ 0.1 driver gates) no
    * bucket exceeds the cap, so refinement is provably inert where the
    * brute-force oracle demands exact equality. The sub encoding
    * `sub·2^bits + bits + 1` keeps levels injective (unrefined = 0).
    * Driver-side loop is bounded by maxDepth; each level is one
    * count-aggregate + one key join — the BSP discipline the label-prop
    * and k-means legs already use.
    */
  private def refineBuckets(bands0: DataFrame): DataFrame = {
    // Each level's over.isEmpty action runs on a PINNED frame, so level
    // d pays only its own aggregate + join instead of recomputing the
    // base quantize+band work d times over an iteratively deepening
    // plan. The pins are loop-scoped: the returned frame is what the
    // caller's memo persists (its one materialization replays the chain
    // once), so nothing leaks past the build.
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += df
      df
    }
    try {
      var cur = pin(bands0.withColumn("sub", lit(0L)))
      var depth = 0
      var done = false
      while (depth < HybMaxDepth && !done) {
        val over = cur.groupBy("band", "bkt", "sub")
          .agg(count(lit(1)).as("__cnt")).filter(col("__cnt") > HybBucketCap)
          .select("band", "bkt", "sub")
        if (over.isEmpty) done = true
        else {
          val base = HybSplitOff + depth * HybSplitBits
          val extra = (0 until HybSplitBits).map { k =>
            when(G.dotl(col("qv"), expr(planeLit(base + k))) > 0, lit(1L << k))
              .otherwise(lit(0L))
          }.reduce(_ + _)
          cur = pin(cur
            .join(over.withColumn("__over", lit(1)), Seq("band", "bkt", "sub"), "left")
            .withColumn("sub", when(col("__over").isNotNull,
              col("sub") * (1L << HybSplitBits) + extra + lit(1L)).otherwise(col("sub")))
            .drop("__over"))
          depth += 1
        }
      }
      cur
    } finally pinned.foreach(_.unpersist(false))
  }

  def qDedupEmbedHybrid(s: SparkSession, dir: String): DataFrame = {
    val vecs = hybridVecs(s, dir)
    val bands = hybridBands(s, dir)
    // candidates: ID pairs only through the band join + distinct —
    // vectors attach after, exactly like qDedupEmbedLsh
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkt") === col("y.bkt")
          && col("x.sub") === col("y.sub")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
      .dropDuplicates("ida", "idb")
    cand
      .join(vecs.select(col("vec_id").as("ida"), col("qv").as("qa"), col("n2").as("na")), "ida")
      .join(vecs.select(col("vec_id").as("idb"), col("qv").as("qb"), col("n2").as("nb")), "idb")
      .withColumn("cos", qcos(G.dotl(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cos") >= HybT)
      .select("ida", "idb", "cos")
      .orderBy("ida", "idb")
  }

  /** Semantic-dedup near-dup threshold within a cluster. */
  private val SemT = 0.40

  /** SemDeDup-style semantic dedup (cluster-then-dedup): partition the
    * corpus into K semantic clusters (argmax-cos assignment against the
    * broadcast coarse centroids — the same `max_by` hash-agg plan as the
    * IVF list assignment, no sort window), then confine the pairwise
    * near-dup search WITHIN clusters: the pair join is an equi-join on
    * the cluster id, so pairwise cost is Σ|cell|² instead of n² and K
    * grows with the corpus while cells stay bounded — the property that
    * makes embedding dedup tractable at corpus scale when no LSH margin
    * exists. Keep rule: within a near-duplicate pair the member FARTHER
    * from its centroid survives (it carries more information for the
    * cluster; centroid-cos ascending, id tie-break), so the verdict
    * column marks exactly the members a pruning pass would delete.
    * Output: every vector's cluster id, centroid cosine, and drop
    * verdict — the full assignment table a production pass writes.
    */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val assigned = seedScored(quantized(s, dir))
      .groupBy("vec_id")
      .agg(nearestSeed(struct(col("cid"), col("ccos"), col("qv"), col("n2"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.ccos").as("ccos"), col("best.qv").as("qv"), col("best.n2").as("n2"))
    // within-cluster near-dup pairs, both orientations: for each member
    // the set of same-cluster neighbors above the threshold
    val x = assigned.select(col("cid"), col("vec_id").as("ida"),
      col("qv").as("qa"), col("n2").as("na"), col("ccos").as("ca"))
    val y = assigned.select(col("cid"), col("vec_id").as("idb"),
      col("qv").as("qb"), col("n2").as("nb"), col("ccos").as("cb"))
    val dropped = x.join(y, Seq("cid"))
      .filter(col("ida") =!= col("idb"))
      .filter(qcos(G.dotl(col("qa"), col("qb")), col("na"), col("nb")) >= SemT)
      // the neighbor closer to the centroid (or equal, lower id) wins;
      // this row's member is the one pruned
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("idb") < col("ida")))
      .select(col("ida").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    assigned.select("vec_id", "cid", "ccos")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("ccos"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
      .orderBy("vec_id")
  }

  /** Per-cluster admission quota for the balance resample. */
  private val BalCap = 25

  /** Cluster-balanced resampling (semantic diversity quota): cap every
    * semantic cluster's contribution to the training mix at [[BalCap]]
    * members — the embedding-space analog of the source-mixture
    * resample (CorpusQuality.qMixResample), aimed at the "one dominant
    * mode swamps the batch" failure of web-scale corpora. Assignment is
    * the same broadcast-argmax `max_by` hash-agg plan as the IVF list
    * assignment (no sort window); admission within a cluster ranks by a
    * content-stable md5 bucket (vec_id tie-break) — deterministic under
    * re-runs and corpus growth, like every sampling decision in this
    * repo — via one per-cluster rank window (parallelism = #clusters,
    * per-cluster top-k state is rank-bounded). Output: the admitted
    * members with their cluster, admission rank, and the cluster's
    * pre-cap size for telemetry.
    */
  def qClusterBalance(s: SparkSession, dir: String): DataFrame = {
    val assigned = seedScored(quantized(s, dir))
      .groupBy("vec_id")
      .agg(nearestSeed(col("cid")).as("cid"))
      .withColumn("bkt", expr(
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1000000"))
    val w = Window.partitionBy("cid").orderBy(col("bkt"), col("vec_id"))
    assigned
      .withColumn("c_size", count(lit(1)).over(Window.partitionBy("cid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= BalCap)
      .select("cid", "vec_id", "rn", "c_size")
      .orderBy("cid", "rn")
  }

  /** Exact all-pairs scale policy: the result is K-independent (every
    * unordered pair meets in exactly one cell for ANY grid size), so K
    * exists only to bound per-task work — and a FIXED K stops doing
    * that the moment the corpus grows (round-6 review's one standing
    * perf-weak). Pinned here instead: K grows so one block holds at
    * most [[BlockRows]] vectors, keeping each of the K(K+1)/2 cells at
    * ≤ BlockRows² dot products — task memory and skew stay bounded at
    * any corpus size, with parallelism growing as the work does. The
    * O(n²) total work is the inherent price of the zero-margin exact
    * contract (the hybrid is the primary path; this leg is the ground
    * truth that proves the hybrid lossless).
    */
  private val BlockRows = 4096L
  private def gridK(n: Long): Int =
    math.max(16L, (n + BlockRows - 1L) / BlockRows).toInt

  /** Embedding-cosine near-duplicate pairs: ALL pairs with cos ≥ 0.40
    * (exact — see the scale-design note in the object doc for why LSH
    * cannot prefilter at this threshold), via the blocked all-pairs
    * join: each vector lands in block `vec_id % K`; the left side
    * replicates to cells (blk, j≥blk), the right to cells (i≤blk, blk),
    * so every unordered pair meets in EXACTLY ONE of the K(K+1)/2
    * cells. One equi-join on the cell id, codegen'd long dot per pair;
    * K from [[gridK]] (the corpus count reads off the parquet footers).
    */
  def qDedupEmbed(s: SparkSession, dir: String): DataFrame = {
    // corpus count off the footers: no per-construction job (PlanGuardSpec)
    val K = gridK(Tables.rows(s, dir, "embeddings"))
    val emb = quantized(s, dir).withColumn("blk", pmod(col("vec_id"), lit(K)))
    val a = emb
      .withColumn("j", explode(expr(s"sequence(blk, ${K - 1})")))
      .select((col("blk") * K + col("j")).as("cell"), col("blk").as("blka"),
        col("vec_id").as("ia"), col("qv").as("qa"), col("n2").as("na"))
    val b = emb
      .withColumn("i", explode(expr("sequence(0, blk)")))
      .select((col("i") * K + col("blk")).as("cell"), col("blk").as("blkb"),
        col("vec_id").as("ib"), col("qv").as("qb"), col("n2").as("nb"))
    // Diagonal cells hold both orientations of a same-block pair — keep
    // ia < ib there; off-diagonal cells see each pair exactly once (in
    // arbitrary orientation), normalized by least/greatest below.
    val pairs = a.join(b, Seq("cell"))
      .filter(col("blka") =!= col("blkb") || col("ia") < col("ib"))
      .filter(col("ia") =!= col("ib"))
      .withColumn("cos", qcos(G.dotl(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("cos") >= 0.40)
    pairs
      .select(least(col("ia"), col("ib")).as("ida"),
        greatest(col("ia"), col("ib")).as("idb"), col("cos"))
      .orderBy("ida", "idb")
  }

  /** Cosine threshold for embedding-space decontamination: the max
    * eval↔train cosine in this corpus is ≈0.49, so 0.35 yields a
    * non-trivial removal set while staying far from any float boundary.
    */
  private val EmbDecontamT = 0.35

  /** Embedding-space benchmark decontamination — the SEMANTIC analog of
    * the text leg ([[Fingerprints]] `q_decontaminate`): remove training
    * vectors whose cosine to ANY eval vector (deterministic stand-in:
    * vec_id < 20) reaches [[EmbDecontamT]]. This is the layer that
    * catches paraphrased or translated eval leakage, which shingle
    * overlap is blind to — a production pipeline runs BOTH: text
    * decontamination for verbatim overlap, embedding decontamination
    * for semantic overlap.
    *
    * Shape: the eval set is benchmark-sized, so it BROADCASTS and the
    * corpus side is map-only — one codegen'd long-dot
    * ([[graft.functions.LongDot]]) per (train, eval) pair inside the
    * scan, no corpus-side shuffle; at 10⁹ training vectors the cost is
    * one pass at scan speed, exactly the text leg's contract. The
    * max-aggregate keyed by vec_id is corpus-partitioned with map-side
    * partials (each train row's verdict is independent).
    */
  def qDecontaminateEmbed(s: SparkSession, dir: String): DataFrame = {
    val emb = quantized(s, dir)
    val ev = emb.filter(col("vec_id") < 20)
      .select(col("qv").as("eqv"), col("n2").as("en2"))
    val contaminated = emb.filter(col("vec_id") >= 20)
      .crossJoin(broadcast(ev))
      .filter(qcos(G.dotl(col("qv"), col("eqv")), col("n2"), col("en2"))
        >= EmbDecontamT)
      .select("vec_id").distinct()
    Tables.embeddings(s, dir).select("vec_id", "label")
      .filter(col("vec_id") >= 20)
      .join(contaminated, Seq("vec_id"), "left_anti")
      .orderBy("vec_id")
  }

  /** ANN recall telemetry — the health metric that decides whether the
    * approximate path is safe to enable: per query vector, how many of
    * the TRUE top-5 neighbors (brute-force leg) the sign-LSH ANN leg
    * recovered. Run on a sampled query set before switching a corpus
    * pipeline from exact to approximate, and re-run when the embedding
    * distribution drifts (recall decays silently otherwise — the whole
    * reason this is a standing query, not a one-off notebook check).
    * Both legs are deterministic, so the oracle replays them exactly.
    * Cost: the brute leg is |Q|·N with Q = 5 (the sampled-probe
    * contract — never all-pairs); the overlap join touches 25 rows.
    */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = qEmbedKnn(s, dir).filter(col("rank") <= 5).select("qid", "vid")
    val approx = qEmbedAnn(s, dir).select("qid", "vid")
    val hits = truth.join(approx, Seq("qid", "vid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    truth.groupBy("qid").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hit"))
      .select(col("qid"), col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true")).as("recall"))
      .orderBy("qid")
  }

  /** Random-walk rounds and the per-round mass multiplier: 6 =
    * lcm(1, 2, 3) makes every per-neighbor share `6 div deg` an exact
    * integer for out-degrees up to [[GraphK]] = 3.
    */
  private val WalkRounds = 3
  private val WalkScale = 216L // 6^WalkRounds

  /** Random-walk centrality over the kNN graph — PageRank's power
    * iteration with EXACT INTEGER mass: every node starts with mass 1,
    * each round a node's mass splits evenly over its out-neighbors, and
    * all masses are scaled by 6 = lcm(1,2,3) per round so the per-
    * neighbor share (`6 div deg`, deg ≤ k = 3) is exact integer
    * arithmetic — no float division to diverge cross-engine, and total
    * mass is conserved at n·6^r (spec-asserted). Nodes with no
    * out-edges keep their (scaled) mass. High-mass nodes are the hub
    * documents of the near-duplicate/similarity neighborhood — the ones
    * a curation pass inspects first.
    *
    * Shape: per round ONE equi-join of the mass table onto the
    * (materialized) edge artifact + one hash aggregate, localCheckpoint
    * per round — the CC-loop discipline; driver carries no data. The
    * normalized score is one double division by a constant at the end.
    */
  def qWalkMass(s: SparkSession, dir: String): DataFrame =
    // same BSP-loop memoization as [[qLabelProp]]
    graft.Caches.memoSide(s, dir, "q_walk_mass_result") {
      qWalkMassBuild(s, dir)
    }

  private def qWalkMassBuild(s: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(s, dir).select("qid", "vid")
    val deg = edges.groupBy("qid").agg(count(lit(1)).as("deg"))
    var mass = Tables.embeddings(s, dir).select("vec_id")
      .withColumn("m", lit(1L)).localCheckpoint(true)
    for (_ <- 1 to WalkRounds) {
      val contrib = edges.join(deg, "qid")
        .join(mass.select(col("vec_id").as("qid"), col("m")), "qid")
        .withColumn("c", col("m") * expr("6 DIV deg"))
        .groupBy(col("vid")).agg(sum(col("c")).as("s"))
      mass = mass.withColumnRenamed("m", "pm")
        .join(contrib.withColumnRenamed("vid", "vec_id"), Seq("vec_id"), "left")
        .join(deg.select(col("qid").as("vec_id"), col("deg")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          (coalesce(col("s"), lit(0L))
            + when(col("deg").isNull, lit(6L) * col("pm")).otherwise(lit(0L))).as("m"))
        .localCheckpoint(true)
    }
    mass.select(col("vec_id"), col("m").as("mass"),
        (col("m").cast("double") / WalkScale).as("score"))
      .orderBy("vec_id")
  }

  /** Incremental-ingest ANN — the embedding-side mirror of the text
    * suite's index-append maintenance: the last 20% of vectors (by
    * vec_id) play a newly arriving batch, and each probes the STANDING
    * band index (first 80%) for its top-3 standing neighbors — the
    * production shape where ingesting a batch queries the existing
    * index instead of rebuilding the graph, and within-batch edges stay
    * the batch build's job. Shape: one equi-join of the batch's band
    * rows against the standing band rows (shuffle keys are (band,
    * bucket) ints), cosine on candidates only, per-probe top-k window
    * over batch-sized groups.
    *
    * Candidate-volume note (the hybrid path's [[refineBuckets]] budget
    * in ANN terms): this probe's fan-out is bounded by standing-bucket
    * size ∝ n / 2^AnnRows, so at corpus scale the lever is the band
    * GEOMETRY (more rows per band ⇒ smaller buckets; recall recovered
    * by more bands or multi-probe) — a data-dependent bucket split
    * would change which candidates each probe sees and thereby its
    * top-k, so the budget belongs in the geometry for fixed-recall ANN,
    * unlike the dedup gate where refinement only prunes already-
    * impossible pairs. The plane-sign mixer fix (splitmix64) is what
    * makes the binomial bucket-size story actually hold.
    */
  def qEmbedIncremental(s: SparkSession, dir: String): DataFrame = {
    // The 80% split point stays IN the plan (a 1-row aggregate broadcast
    // against the band rows) instead of a driver-side count(): query
    // construction runs zero jobs — pinned by ConstructionSpec.
    val split = Tables.embeddings(s, dir)
      .agg(floor(count(lit(1)) * 0.8).cast("long").as("__split"))
    // ID-pairs-only candidate shuffles (the [[multiProbeNeighbors]] /
    // qDedupEmbedLsh discipline): the (band, bkt) equi-join and the
    // (qid, vid) dedup exchange carry two ids per row, not the 64-long
    // quantized vectors — at 1024-dim production embeddings the payload
    // ride multiplies candidate shuffle bytes by ~2 orders of magnitude
    // on the one ANN path that runs per ingest batch. Vectors attach to
    // the surviving pairs afterwards via two corpus-∝ id equi-joins.
    val bands = bandIds(s, dir).crossJoin(broadcast(split))
    val standing = bands.filter(col("vec_id") < col("__split"))
      .select(col("vec_id").as("vid"), col("band"), col("bkt"))
    val batch = bands.filter(col("vec_id") >= col("__split"))
      .select(col("vec_id").as("qid"), col("band"), col("bkt"))
    val emb = quantized(s, dir)
    val cand = batch.join(standing, Seq("band", "bkt"))
      .select("qid", "vid").dropDuplicates("qid", "vid")
    topByCos(scoreIdPairs(cand, emb), GraphK).orderBy("qid", "rank")
  }

  // ---- budgeted MULTI-PROBE ANN ----

  /** Multi-probe geometry: [[MpBands]] bands of [[MpRows]] planes (2⁶ =
    * 64 buckets per band — 4× finer than the single-probe family's 2⁴),
    * with each query probing its own bucket plus the [[MpH]]−1 buckets
    * reached by flipping its lowest-|margin| sign bits (the sign dot
    * closest to 0 is the one a true neighbor most likely lands on the
    * other side of — Lv et al.'s multi-probe LSH argument, here with
    * EXACT integer margins so probe order is deterministic and
    * oracle-replayable). Candidate admission is bounded by an explicit
    * per-(query, band) budget [[MpBudget]], filled in (probe rank,
    * vec_id) order so the own bucket and lowest-margin probes are
    * admitted first. This is the fixed-recall-ANN answer to the dedup
    * gate's [[refineBuckets]] budget (which cannot apply here — see
    * [[qEmbedIncremental]]'s scaladoc): the GEOMETRY shrinks buckets 4×
    * and multi-probe buys the recall back, with the budget as the hard
    * fan-out bound. Plane ids offset by [[MpPlaneOff]] — a fresh
    * splitmix64 slice, uncorrelated with every other family.
    */
  private val MpBands = 4
  private val MpRows = 6
  private val MpH = 4
  private val MpPlaneOff = 2000
  private[graft] val MpBudget = 1024

  /** Shared multi-probe pipeline, parameterized so the ScaleStress
    * equal-budget comparison can run the SAME code as the single-probe
    * control (`rows` = 4, `h` = 1 probes the one 2⁴-sized bucket per
    * band — the same expected candidate volume as rows = 6, h = 4:
    * 4·n/2⁶ per band either way — under the same admission budget).
    */
  private[queries] def multiProbeNeighbors(s: SparkSession, dir: String,
      nQ: Long, rows: Int, h: Int, topK: Int): DataFrame = {
    val emb = quantized(s, dir)
    val dotCols = for (b <- 0 until MpBands; k <- 0 until rows)
      yield G.dotl(col("qv"), expr(planeLit(MpPlaneOff + b * MpRows + k)))
        .as(s"d${b}_$k")
    val withDots = emb.select(
      Seq(col("vec_id"), col("qv"), col("n2")) ++ dotCols: _*)
    val withBkts = (0 until MpBands).foldLeft(withDots) { (df, b) =>
      df.withColumn(s"bkt$b", (0 until rows).map(k =>
        when(col(s"d${b}_$k") > 0, 1 << k).otherwise(0)).reduce(_ + _))
    }
    val standing = withBkts.selectExpr("vec_id", "qv", "n2",
        s"stack($MpBands, ${(0 until MpBands).map(b => s"$b, bkt$b").mkString(", ")}) AS (band, bkt)")
      .select(col("vec_id").as("vid"), col("qv").as("ve"),
        col("n2").as("vn2"), col("band"), col("bkt"))
    // probe p ≥ 1 flips the bit whose |dot| has rank p−1 (ties by bit
    // index) — all integer comparisons, identical on both engines.
    // The flip ORDER is precomputed once per (row, band) as a sorted
    // (|dot|, bit) struct array: sort_array's lexicographic ascending
    // order IS the rank ladder (|dot| asc, tie by smaller bit), so
    // element p of ord$b names the bit probe p flips. The previous
    // spelling re-derived every rank inline per probe — ~30 CASE
    // comparisons × 16 stack branches — which grew the Generate node's
    // whole-stage-codegen'd consume method past Janino's 64 KB limit
    // (generator expressions read local variables, so codegen cannot
    // split them into helper methods) and silently dropped the whole
    // subtree to interpreted eval. Same integers, ~30× smaller code.
    val withOrd = (0 until MpBands).foldLeft(withBkts) { (df, b) =>
      if (h <= 1) df else df.withColumn(s"ord$b",
        sort_array(array((0 until rows).map(k =>
          struct(abs(col(s"d${b}_$k")).as("m"), lit(k).as("k"))): _*)))
    }
    def probeSql(b: Int, p: Int): String =
      if (p == 0) s"bkt$b"
      else s"(bkt$b ^ shiftleft(1, element_at(ord$b, $p).k))"
    val stackArgs = (for (b <- 0 until MpBands; p <- 0 until h)
      yield s"$b, $p, ${probeSql(b, p)}").mkString(", ")
    // Only ID pairs flow through the probe join, the admission window
    // and the dedup (the qDedupEmbedLsh discipline — vector payloads
    // must never ride a candidate shuffle); vectors attach to the
    // surviving candidates afterwards via two id equi-joins.
    val probes = withOrd.filter(col("vec_id") < nQ)
      .selectExpr("vec_id AS qid",
        s"stack(${MpBands * h}, $stackArgs) AS (band, probe, bkt)")
    val admitted = probes
      .join(standing.select("vid", "band", "bkt"), Seq("band", "bkt"))
      .filter(col("qid") =!= col("vid"))
      .withColumn("adm", row_number().over(
        Window.partitionBy("qid", "band")
          .orderBy(col("probe").asc, col("vid").asc)))
      .filter(col("adm") <= MpBudget)
    topByCos(scoreIdPairs(admitted.select("qid", "vid").dropDuplicates("qid", "vid"), emb),
      topK)
  }

  /** Budgeted multi-probe ANN, driver-checked: top-5 standing neighbors
    * for the 5 probe vectors through the 4×6 multi-probe geometry. At
    * corpus scale the candidate volume is probedBuckets · n/2⁶ per band
    * hard-capped by [[MpBudget]] — HALF the single-probe family's
    * n/2⁴ per band at 4× the bucket resolution; the ScaleStress leg
    * records that its brute-force recall at 10× is ≥ the single-probe
    * control's at the same admitted budget.
    */
  def qEmbedAnnMultiprobe(s: SparkSession, dir: String): DataFrame =
    multiProbeNeighbors(s, dir, 5L, MpRows, MpH, 5).orderBy("qid", "rank")

  /** ScaleStress instrumentation: (multi-probe recall, equal-budget
    * single-probe recall, multi-probe admitted-candidate max per
    * (query, band)) against the brute-force top-`topK` truth over the
    * first `nQ` vectors. One count/collect each — gate-only.
    */
  private[graft] def multiProbeRecallProfile(s: SparkSession, dir: String,
      nQ: Long, topK: Int): (Double, Double, Long) = {
    val truth = topByCos(bruteScored(quantized(s, dir), nQ), topK).select("qid", "vid")
    val nTruth = truth.count().toDouble
    def recallOf(leg: DataFrame): Double =
      truth.join(leg.select("qid", "vid"), Seq("qid", "vid"), "left_semi")
        .count().toDouble / nTruth
    val mp = recallOf(multiProbeNeighbors(s, dir, nQ, MpRows, MpH, topK))
    val sp = recallOf(multiProbeNeighbors(s, dir, nQ, 4, 1, topK))
    val fanout = multiProbeNeighbors(s, dir, nQ, MpRows, MpH, Int.MaxValue)
      .groupBy("qid").agg(count(lit(1)).as("c"))
      .agg(max("c")).first().getLong(0)
    (mp, sp, fanout)
  }

  /** ScaleStress hook — append∘append ≡ rebuild for the standing band
    * index: both legs probe the last-20% batch, one against an 80%
    * standing index assembled by TWO successive appends (0–60%, then
    * 60–80% — band rows are a per-vector map, so index maintenance is
    * a pure row append), the other against the from-scratch 80% index.
    */
  private[graft] def embedAppendTwiceLegs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // ID-pairs-only candidate shuffles, the qEmbedIncremental discipline:
    // the appended/rebuilt standing index is the payload-free band_index
    // artifact, the (band, bkt) join and (qid, vid) dedup carry two ids
    // per row, and vectors re-attach to survivors via two id equi-joins
    // against the memoized quantized table (was: qv/n2 riding every
    // candidate exchange — this check was the most expensive in the gate
    // at 255 s/run purely from that payload ride).
    val bands = bandIds(s, dir)
    val n = Tables.rows(s, dir, "embeddings")
    val s1 = (n * 6L) / 10L
    val s2 = (n * 8L) / 10L
    val emb = quantized(s, dir)
    def probe(standing: DataFrame): DataFrame = {
      val st = standing.select(col("vec_id").as("vid"), col("band"), col("bkt"))
      val batch = bands.filter(col("vec_id") >= s2)
        .select(col("vec_id").as("qid"), col("band"), col("bkt"))
      val cand = batch.join(st, Seq("band", "bkt"))
        .select("qid", "vid").dropDuplicates("qid", "vid")
      topByCos(scoreIdPairs(cand, emb), GraphK)
    }
    val chained = bands.filter(col("vec_id") < s1)
      .unionByName(bands.filter(col("vec_id") >= s1 && col("vec_id") < s2))
    (probe(chained), probe(bands.filter(col("vec_id") < s2)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_ann_multiprobe" -> (qEmbedAnnMultiprobe(_, _)),
    "q_embed_incremental" -> (qEmbedIncremental(_, _)),
    "q_walk_mass" -> (qWalkMass(_, _)),
    "q_ann_recall" -> (qAnnRecall(_, _)),
    "q_decontaminate_embed" -> (qDecontaminateEmbed(_, _)),
    "q_embed_norms" -> (qEmbedNorms(_, _)),
    "q_embed_knn" -> (qEmbedKnn(_, _)),
    "q_embed_ann" -> (qEmbedAnn(_, _)),
    "q_embed_ivf" -> (qEmbedIvf(_, _)),
    "q_dedup_embed" -> (qDedupEmbed(_, _)),
    "q_dedup_embed_lsh" -> (qDedupEmbedLsh(_, _)),
    "q_dedup_embed_hybrid" -> (qDedupEmbedHybrid(_, _)),
    "q_dedup_semantic" -> (qDedupSemantic(_, _)),
    "q_cluster_balance" -> (qClusterBalance(_, _)),
    "q_embed_centroids" -> (qEmbedCentroids(_, _)),
    "q_kmeans_iter" -> (qKmeansIter(_, _)),
    "q_knn_graph" -> (qKnnGraph(_, _)),
    "q_hard_negatives" -> (qHardNegatives(_, _)),
    "q_graph_triangles" -> (qGraphTriangles(_, _)),
    "q_label_prop" -> (qLabelProp(_, _)),
    "q_embed_pq" -> (qEmbedPq(_, _)),
    "q_embed_pq_trained" -> (qEmbedPqTrained(_, _)))

  // ---- DuckDB spellings of the integer-quantized vector math ----

  private val sqlQvec =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"
  private val sqlQnorm =
    s"CAST(list_sum(list_transform($sqlQvec, v -> v * v)) AS BIGINT)"
  private def sqlQdot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(0, 64), i -> $a[i + 1] * $b[i + 1])) AS DOUBLE)"
  private def sqlQcos(a: String, b: String, n2a: String, n2b: String): String =
    s"${sqlQdot(a, b)} / (sqrt(CAST($n2a AS DOUBLE)) * sqrt(CAST($n2b AS DOUBLE)))"

  /** Per-band bucket id from exact integer plane dots — literal plane
    * arrays identical to the Spark side.
    */
  private def sqlBucket(b: Int): String =
    (0 until AnnRows).map { k =>
      s"""(CASE WHEN list_sum(list_transform(range(0, 64),
         |  i -> qv[i + 1] * (${planeSqlLit(b * AnnRows + k)})[i + 1])) > 0
         |  THEN ${1 << k} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** Shared oracle CTE chain `e, eb, bands, c, r`: quantized vectors →
    * per-band sign buckets → distinct bucket-collision candidates →
    * cosine-ranked neighbors. The DuckDB spelling of
    * [[banded]] + the ranking window; reused by every query that
    * consumes the kNN graph.
    */
  private lazy val sqlKnnCtes: String = {
    val bandSelects = (0 until AnnBands)
      .map(b => s"SELECT vec_id, qv, n2, $b AS band, bkt$b AS bkt FROM eb")
      .mkString("\n  UNION ALL ")
    val bktSelects = (0 until AnnBands).map(b => s"${sqlBucket(b)} AS bkt$b").mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
       |eb AS (SELECT vec_id, qv, n2,
       |  $bktSelects
       |FROM e),
       |bands AS (
       |  $bandSelects),
       |c AS (
       |  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS vid,
       |    ${sqlQcos("q.qv", "v.qv", "q.n2", "v.n2")} AS cos
       |  FROM bands q JOIN bands v ON q.band = v.band AND q.bkt = v.bkt
       |  WHERE q.vec_id <> v.vec_id),
       |r AS (SELECT qid, vid, cos,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INTEGER) AS rank
       |  FROM c)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_ann_recall" ->
      s"""$sqlKnnCtes,
         |approx AS (SELECT qid, vid FROM r WHERE qid < 5 AND rank <= 5),
         |tc AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid,
         |    ${sqlQcos("q.qv", "v.qv", "q.n2", "v.n2")} AS cos
         |  FROM e q, e v
         |  WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id),
         |tr AS (SELECT qid, vid,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rank
         |  FROM tc),
         |truth AS (SELECT qid, vid FROM tr WHERE rank <= 5)
         |SELECT t.qid, count(*) AS n_true, count(a.vid) AS n_hit,
         |  CAST(count(a.vid) AS DOUBLE) / count(*) AS recall
         |FROM truth t LEFT JOIN approx a ON t.qid = a.qid AND t.vid = a.vid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,
    "q_embed_centroids" ->
      s"""WITH q AS (SELECT label, $sqlQvec AS qv FROM embeddings),
         |e AS (SELECT label, CAST(t.i AS INTEGER) AS pos, qv[t.i + 1] AS q
         |  FROM q, range(0, 64) t(i))
         |SELECT label, pos,
         |  CAST(sum(q) AS DOUBLE) / (count(*) * 1048576.0) AS centroid
         |FROM e GROUP BY label, pos
         |ORDER BY label, pos""".stripMargin,
    "q_embed_norms" ->
      s"""SELECT vec_id,
         |  CAST(len(embedding) AS INTEGER) AS dim,
         |  $sqlNormExpr AS norm2,
         |  sqrt($sqlNormExpr) AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_embed_knn" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |c AS (
         |  SELECT q.vec_id AS qid, v.vec_id AS vid,
         |    ${sqlQcos("q.qv", "v.qv", "q.n2", "v.n2")} AS cos
         |  FROM e q, e v
         |  WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INTEGER) AS rank
         |  FROM c)
         |SELECT qid, vid, cos, rank FROM r WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin,
    "q_embed_ann_multiprobe" -> {
      val dotDefs = (for (b <- 0 until MpBands; k <- 0 until MpRows) yield
        s"""list_sum(list_transform(range(0, 64),
           |    i -> qv[i + 1] * (${planeSqlLit(MpPlaneOff + b * MpRows + k)})[i + 1])) AS d${b}_$k""".stripMargin)
        .mkString(",\n  ")
      val bktDefs = (0 until MpBands).map { b =>
        (0 until MpRows).map(k =>
          s"(CASE WHEN d${b}_$k > 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ") +
          s" AS bkt$b"
      }.mkString(",\n  ")
      def rankSql(b: Int, k: Int): String = (0 until MpRows).filter(_ != k).map { j =>
        s"(CASE WHEN abs(d${b}_$j) < abs(d${b}_$k)" +
          s" OR (abs(d${b}_$j) = abs(d${b}_$k) AND $j < $k) THEN 1 ELSE 0 END)"
      }.mkString(" + ")
      def probeSql(b: Int, p: Int): String =
        if (p == 0) s"bkt$b"
        else {
          val bit = (0 until MpRows).map(k =>
            s"($k * (CASE WHEN (${rankSql(b, k)}) = ${p - 1} THEN 1 ELSE 0 END))")
            .mkString(" + ")
          s"xor(bkt$b, 1 << ($bit))"
        }
      val standingSelects = (0 until MpBands)
        .map(b => s"SELECT vec_id AS vid, qv AS ve, n2 AS vn2, $b AS band, bkt$b AS bkt FROM eb")
        .mkString("\n  UNION ALL ")
      val probeSelects = (for (b <- 0 until MpBands; p <- 0 until MpH) yield
        s"SELECT vec_id AS qid, qv AS qe, n2 AS qn2, $b AS band, $p AS probe, ${probeSql(b, p)} AS bkt FROM eb WHERE vec_id < 5")
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |d AS (SELECT vec_id, qv, n2,
         |  $dotDefs
         |FROM e),
         |eb AS (SELECT *,
         |  $bktDefs
         |FROM d),
         |standing AS (
         |  $standingSelects),
         |probes AS (
         |  $probeSelects),
         |cand AS (
         |  SELECT q.qid, v.vid,
         |    ${sqlQcos("q.qe", "v.ve", "q.qn2", "v.vn2")} AS cos,
         |    row_number() OVER (PARTITION BY q.qid, q.band
         |      ORDER BY q.probe ASC, v.vid ASC) AS adm
         |  FROM probes q JOIN standing v ON q.band = v.band AND q.bkt = v.bkt
         |  WHERE q.qid <> v.vid),
         |ded AS (SELECT DISTINCT qid, vid, cos FROM cand WHERE adm <= $MpBudget),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INTEGER) AS rank
         |  FROM ded)
         |SELECT qid, vid, cos, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },
    "q_embed_ann" -> {
      val bandSelects = (0 until AnnBands)
        .map(b => s"SELECT vec_id, qv, n2, $b AS band, bkt$b AS bkt FROM eb")
        .mkString("\n  UNION ALL ")
      val bktSelects = (0 until AnnBands).map(b => s"${sqlBucket(b)} AS bkt$b").mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |eb AS (SELECT vec_id, qv, n2,
         |  $bktSelects
         |FROM e),
         |bands AS (
         |  $bandSelects),
         |c AS (
         |  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS vid,
         |    ${sqlQcos("q.qv", "v.qv", "q.n2", "v.n2")} AS cos
         |  FROM bands q JOIN bands v ON q.band = v.band AND q.bkt = v.bkt
         |  WHERE q.vec_id < 5 AND q.vec_id <> v.vec_id),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS INTEGER) AS rank
         |  FROM c)
         |SELECT qid, vid, cos, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },
    "q_embed_ivf" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |cents AS (SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM e
         |  WHERE vec_id < $IvfK),
         |scored AS (
         |  SELECT e.vec_id, e.qv, e.n2, c.cid,
         |    ${sqlQcos("e.qv", "c.cv", "e.n2", "c.cn2")} AS ccos
         |  FROM e, cents c),
         |ranked AS (SELECT vec_id, qv, n2, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM scored),
         |ivf AS (SELECT cid, vec_id AS vid, qv AS ve, n2 AS vn2
         |  FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, qv AS qe, n2 AS qn2, cid
         |  FROM ranked WHERE vec_id < 5 AND rn <= $IvfProbe),
         |c AS (
         |  SELECT p.qid, v.vid,
         |    ${sqlQcos("p.qe", "v.ve", "p.qn2", "v.vn2")} AS cos
         |  FROM probes p JOIN ivf v USING (cid)
         |  WHERE p.qid <> v.vid),
         |r AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vid ASC) AS INTEGER) AS rank
         |  FROM c)
         |SELECT qid, vid, cos, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_decontaminate_embed" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |c AS (SELECT DISTINCT t.vec_id
         |  FROM e t, e v WHERE t.vec_id >= 20 AND v.vec_id < 20
         |    AND ${sqlQcos("t.qv", "v.qv", "t.n2", "v.n2")} >= 0.35)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id >= 20 AND vec_id NOT IN (SELECT vec_id FROM c)
         |ORDER BY vec_id""".stripMargin,
    "q_dedup_embed" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings)
         |SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  ${sqlQcos("a.qv", "b.qv", "a.n2", "b.n2")} AS cos
         |FROM e a, e b
         |WHERE a.vec_id < b.vec_id
         |  AND ${sqlQcos("a.qv", "b.qv", "a.n2", "b.n2")} >= 0.40
         |ORDER BY ida, idb""".stripMargin,
    // BRUTE FORCE over the augmented corpus — all pairs, no LSH: the
    // gate proves the Spark side's band candidates lost nothing.
    "q_dedup_embed_hybrid" ->
      s"""WITH aug AS (
         |  SELECT vec_id, list_transform(range(0, 64), i ->
         |      CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, list_transform(range(0, 64), i ->
         |      CAST(round((CAST(embedding[i + 1] AS DOUBLE)
         |        * (1.0 + 0.06 * (CAST(i % 4 AS DOUBLE) - 1.5))) * 1048576.0) AS BIGINT))
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |e AS (SELECT vec_id, qv,
         |    CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS n2
         |  FROM aug)
         |SELECT a.vec_id AS ida, b.vec_id AS idb,
         |  ${sqlQcos("a.qv", "b.qv", "a.n2", "b.n2")} AS cos
         |FROM e a, e b
         |WHERE a.vec_id < b.vec_id
         |  AND ${sqlQcos("a.qv", "b.qv", "a.n2", "b.n2")} >= $HybT
         |ORDER BY ida, idb""".stripMargin,
    "q_embed_pq" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv FROM embeddings),
         |subs AS (SELECT vec_id, CAST(t.s AS INTEGER) AS s,
         |    qv[CAST(t.s * $PqDim + 1 AS INTEGER):CAST(t.s * $PqDim + $PqDim AS INTEGER)] AS sv
         |  FROM e, range(0, $PqSubs) t(s)),
         |cents AS (SELECT vec_id AS c, s, sv AS cv FROM subs WHERE vec_id < $PqK),
         |dists AS (
         |  SELECT sub.vec_id, sub.s, cents.c,
         |    CAST(list_sum(list_transform(range(1, ${PqDim + 1}), j ->
         |      (sub.sv[CAST(j AS INTEGER)] - cents.cv[CAST(j AS INTEGER)])
         |      * (sub.sv[CAST(j AS INTEGER)] - cents.cv[CAST(j AS INTEGER)])))
         |      AS BIGINT) AS d
         |  FROM subs sub JOIN cents ON sub.s = cents.s),
         |codes AS (SELECT vid, s, c FROM (
         |    SELECT vec_id AS vid, s, c,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
         |    FROM dists) WHERE rn = 1),
         |dtab AS (SELECT vec_id AS qid, s, c, d FROM dists WHERE vec_id < 5),
         |scored AS (
         |  SELECT dtab.qid, codes.vid, CAST(sum(dtab.d) AS BIGINT) AS dist
         |  FROM codes JOIN dtab ON codes.s = dtab.s AND codes.c = dtab.c
         |  WHERE dtab.qid <> codes.vid
         |  GROUP BY dtab.qid, codes.vid),
         |r AS (SELECT qid, vid, dist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dist ASC, vid ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT qid, vid, dist, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "q_embed_pq_trained" -> {
      def sq(a: String, b: String) =
        s"""CAST(list_sum(list_transform(range(1, ${PqDim + 1}), j ->
           |      ($a[CAST(j AS INTEGER)] - $b[CAST(j AS INTEGER)])
           |      * ($a[CAST(j AS INTEGER)] - $b[CAST(j AS INTEGER)]))) AS BIGINT)""".stripMargin
      // one unrolled Lloyd round: argmin assignment, floored per-dim mean
      def lloyd(r: Int, cIn: String): String =
        s"""d$r AS (
           |  SELECT sub.vec_id, sub.s, c.c, ${sq("sub.sv", "c.cv")} AS d
           |  FROM subs sub JOIN $cIn c ON sub.s = c.s),
           |a$r AS (SELECT vec_id, s, c FROM (
           |    SELECT vec_id, s, c,
           |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
           |    FROM d$r) WHERE rn = 1),
           |m$r AS (SELECT a.s, a.c, CAST(t.j AS INTEGER) AS pos,
           |    sub.sv[CAST(t.j + 1 AS INTEGER)] AS v
           |  FROM a$r a JOIN subs sub ON a.vec_id = sub.vec_id AND a.s = sub.s,
           |    range(0, $PqDim) t(j)),
           |c$r AS (SELECT s, c, list(cv1 ORDER BY pos) AS cv FROM (
           |    SELECT s, c, pos,
           |      CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS cv1
           |    FROM m$r GROUP BY s, c, pos) GROUP BY s, c)""".stripMargin
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv FROM embeddings),
         |subs AS (SELECT vec_id, CAST(t.s AS INTEGER) AS s,
         |    qv[CAST(t.s * $PqDim + 1 AS INTEGER):CAST(t.s * $PqDim + $PqDim AS INTEGER)] AS sv
         |  FROM e, range(0, $PqSubs) t(s)),
         |c0 AS (SELECT vec_id AS c, s, sv AS cv FROM subs WHERE vec_id < $PqK),
         |${lloyd(1, "c0")},
         |${lloyd(2, "c1")},
         |de AS (
         |  SELECT sub.vec_id, sub.s, c.c, ${sq("sub.sv", "c.cv")} AS d
         |  FROM subs sub JOIN c2 c ON sub.s = c.s),
         |codes AS (SELECT vid, s, c FROM (
         |    SELECT vec_id AS vid, s, c,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, c ASC) AS rn
         |    FROM de) WHERE rn = 1),
         |dtab AS (SELECT vec_id AS qid, s, c, d FROM de WHERE vec_id < 5),
         |scored AS (
         |  SELECT dtab.qid, codes.vid, CAST(sum(dtab.d) AS BIGINT) AS dist
         |  FROM codes JOIN dtab ON codes.s = dtab.s AND codes.c = dtab.c
         |  WHERE dtab.qid <> codes.vid
         |  GROUP BY dtab.qid, codes.vid),
         |r AS (SELECT qid, vid, dist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY dist ASC, vid ASC) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT qid, vid, dist, rank FROM r WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin
    },
    "q_dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |cents AS (SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM e
         |  WHERE vec_id < $IvfK),
         |scored AS (
         |  SELECT e.vec_id, e.qv, e.n2, c.cid,
         |    ${sqlQcos("e.qv", "c.cv", "e.n2", "c.cn2")} AS ccos
         |  FROM e, cents c),
         |ranked AS (SELECT vec_id, qv, n2, cid, ccos,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM scored),
         |assigned AS (SELECT vec_id, cid, ccos, qv, n2 FROM ranked WHERE rn = 1),
         |drp AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id
         |  WHERE ${sqlQcos("a.qv", "b.qv", "a.n2", "b.n2")} >= $SemT
         |    AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id)))
         |SELECT a.vec_id, a.cid, a.ccos,
         |  (d.vec_id IS NOT NULL) AS dropped
         |FROM assigned a LEFT JOIN drp d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin,
    "q_cluster_balance" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |cents AS (SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM e
         |  WHERE vec_id < $IvfK),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${sqlQcos("e.qv", "c.cv", "e.n2", "c.cn2")} AS ccos
         |  FROM e, cents c),
         |ranked AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM scored),
         |assigned AS (SELECT vec_id, cid,
         |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bkt
         |  FROM ranked WHERE rn = 1),
         |adm AS (SELECT cid, vec_id,
         |    CAST(row_number() OVER (PARTITION BY cid
         |      ORDER BY bkt, vec_id) AS INTEGER) AS rn,
         |    CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS c_size
         |  FROM assigned)
         |SELECT cid, vec_id, rn, c_size FROM adm
         |WHERE rn <= $BalCap ORDER BY cid, rn""".stripMargin,
    "q_kmeans_iter" ->
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |cents AS (SELECT vec_id AS cid, qv AS cv, n2 AS cn2 FROM e
         |  WHERE vec_id < $IvfK),
         |scored AS (
         |  SELECT e.vec_id, e.qv, c.cid,
         |    ${sqlQcos("e.qv", "c.cv", "e.n2", "c.cn2")} AS ccos
         |  FROM e, cents c),
         |ranked AS (SELECT vec_id, qv, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY ccos DESC, cid ASC) AS rn
         |  FROM scored),
         |assigned AS (SELECT cid, qv FROM ranked WHERE rn = 1),
         |x AS (SELECT cid, CAST(t.i AS INTEGER) AS pos, qv[t.i + 1] AS q
         |  FROM assigned, range(0, 64) t(i))
         |SELECT cid, pos, count(*) AS n_members,
         |  CAST(sum(q) AS DOUBLE) / (count(*) * 1048576.0) AS centroid
         |FROM x GROUP BY cid, pos
         |ORDER BY cid, pos""".stripMargin,
    "q_knn_graph" ->
      s"""$sqlKnnCtes
         |SELECT qid, vid, cos, rank FROM r WHERE rank <= $GraphK
         |ORDER BY qid, rank""".stripMargin,
    "q_hard_negatives" ->
      s"""$sqlKnnCtes,
         |g AS (SELECT qid, vid, cos FROM r WHERE rank <= $GraphK),
         |n AS (SELECT vec_id, label FROM embeddings),
         |j AS (SELECT g.qid, g.vid, g.cos, a.label AS ql, b.label AS vl
         |  FROM g JOIN n a ON a.vec_id = g.qid JOIN n b ON b.vec_id = g.vid),
         |neg AS (SELECT qid, vid, cos FROM (
         |    SELECT qid, vid, cos, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vid ASC) AS rn
         |    FROM j WHERE ql <> vl) WHERE rn = 1),
         |pos AS (SELECT qid, vid, cos FROM (
         |    SELECT qid, vid, cos, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vid ASC) AS rn
         |    FROM j WHERE ql = vl) WHERE rn = 1)
         |SELECT n.vec_id, n.label,
         |  neg.vid AS hn_vid, neg.cos AS hn_cos,
         |  pos.vid AS hp_vid, pos.cos AS hp_cos,
         |  pos.cos - neg.cos AS margin
         |FROM n LEFT JOIN neg ON neg.qid = n.vec_id
         |LEFT JOIN pos ON pos.qid = n.vec_id
         |ORDER BY n.vec_id""".stripMargin,
    "q_graph_triangles" ->
      s"""$sqlKnnCtes,
         |g AS (SELECT qid, vid FROM r WHERE rank <= $GraphK),
         |ue AS (SELECT DISTINCT least(qid, vid) AS a, greatest(qid, vid) AS b
         |  FROM g),
         |t AS (SELECT ab.a AS x, ab.b AS y, bc.b AS z
         |  FROM ue ab JOIN ue bc ON ab.b = bc.a
         |  JOIN ue ac ON ac.a = ab.a AND ac.b = bc.b),
         |tv AS (SELECT v, count(*) AS nt FROM (
         |    SELECT x AS v FROM t UNION ALL SELECT y FROM t
         |    UNION ALL SELECT z FROM t) GROUP BY v),
         |dv AS (SELECT v, count(*) AS d FROM (
         |    SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY v)
         |SELECT em.vec_id,
         |  CAST(COALESCE(dv.d, 0) AS BIGINT) AS degree,
         |  CAST(COALESCE(tv.nt, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN COALESCE(dv.d, 0) >= 2
         |    THEN CAST(COALESCE(tv.nt, 0) * 2 AS DOUBLE) / (dv.d * (dv.d - 1))
         |    ELSE 0.0 END AS clustering_coeff
         |FROM embeddings em
         |LEFT JOIN dv ON dv.v = em.vec_id
         |LEFT JOIN tv ON tv.v = em.vec_id
         |ORDER BY em.vec_id""".stripMargin,
    "q_embed_incremental" ->
      s"""$sqlKnnCtes,
         |bnd AS (SELECT CAST(floor(count(*) * 0.8) AS BIGINT) AS b FROM embeddings),
         |c2 AS (
         |  SELECT DISTINCT q.vec_id AS qid, v.vec_id AS vid,
         |    ${sqlQcos("q.qv", "v.qv", "q.n2", "v.n2")} AS cos
         |  FROM bands q JOIN bands v ON q.band = v.band AND q.bkt = v.bkt
         |  JOIN bnd ON q.vec_id >= bnd.b AND v.vec_id < bnd.b),
         |r2 AS (SELECT qid, vid, cos,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vid ASC) AS INTEGER) AS rank
         |  FROM c2)
         |SELECT qid, vid, cos, rank FROM r2 WHERE rank <= $GraphK
         |ORDER BY qid, rank""".stripMargin,
    "q_walk_mass" -> {
      val rounds = (1 to WalkRounds).map { r =>
        s"""m$r AS (SELECT p.vec_id,
           |    CAST(COALESCE(c.s, 0)
           |      + CASE WHEN d.qid IS NULL THEN 6 * p.m ELSE 0 END AS BIGINT) AS m
           |  FROM m${r - 1} p
           |  LEFT JOIN (
           |    SELECT g.vid, CAST(SUM(p2.m * (6 // d2.deg)) AS BIGINT) AS s
           |    FROM g JOIN deg d2 USING (qid)
           |    JOIN m${r - 1} p2 ON p2.vec_id = g.qid
           |    GROUP BY g.vid) c ON c.vid = p.vec_id
           |  LEFT JOIN deg d ON d.qid = p.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""$sqlKnnCtes,
         |g AS (SELECT qid, vid FROM r WHERE rank <= $GraphK),
         |deg AS (SELECT qid, count(*) AS deg FROM g GROUP BY qid),
         |m0 AS (SELECT vec_id, CAST(1 AS BIGINT) AS m FROM embeddings),
         |$rounds
         |SELECT vec_id, m AS mass, CAST(m AS DOUBLE) / $WalkScale AS score
         |FROM m$WalkRounds ORDER BY vec_id""".stripMargin
    },
    "q_label_prop" -> {
      val rounds = (1 to PropRounds).map { r =>
        s"""v$r AS (SELECT qid, nl FROM (
           |    SELECT g.qid, l.lbl AS nl,
           |      row_number() OVER (PARTITION BY g.qid
           |        ORDER BY count(*) DESC, l.lbl ASC) AS rn
           |    FROM g JOIN l${r - 1} l ON g.vid = l.vec_id
           |    WHERE l.lbl IS NOT NULL
           |    GROUP BY g.qid, l.lbl) WHERE rn = 1),
           |l$r AS (SELECT l.vec_id, l.label, l.seed,
           |    CASE WHEN l.seed THEN l.label ELSE coalesce(v.nl, l.lbl) END AS lbl
           |  FROM l${r - 1} l LEFT JOIN v$r v ON v.qid = l.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""$sqlKnnCtes,
         |g AS (SELECT qid, vid FROM r WHERE rank <= $GraphK),
         |n AS (SELECT vec_id, label, (vec_id % 5 = 0) AS seed FROM embeddings),
         |l0 AS (SELECT vec_id, label, seed,
         |  CASE WHEN seed THEN label END AS lbl FROM n),
         |$rounds
         |SELECT vec_id, seed, label AS true_label, lbl AS label
         |FROM l$PropRounds ORDER BY vec_id""".stripMargin
    },
    "q_dedup_embed_lsh" -> {
      val bandSelects = (0 until AnnBands)
        .map(b => s"SELECT vec_id, qv, n2, $b AS band, bkt$b AS bkt FROM eb")
        .mkString("\n  UNION ALL ")
      val bktSelects = (0 until AnnBands).map(b => s"${sqlBucket(b)} AS bkt$b").mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id, $sqlQvec AS qv, $sqlQnorm AS n2 FROM embeddings),
         |eb AS (SELECT vec_id, qv, n2,
         |  $bktSelects
         |FROM e),
         |bands AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb,
         |    ${sqlQcos("x.qv", "y.qv", "x.n2", "y.n2")} AS cos
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkt = y.bkt
         |  WHERE x.vec_id < y.vec_id)
         |SELECT ida, idb, cos FROM cand WHERE cos >= 0.40
         |ORDER BY ida, idb""".stripMargin
    })
}
