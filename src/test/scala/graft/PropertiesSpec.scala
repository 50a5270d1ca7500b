package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property layer the reference lacks (SURVEY.md §5): algebraic
  * invariants over random small frames. Uses raw ScalaCheck generators
  * with fixed seeds (scalatestplus bridge isn't in the offline cache).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rowsGen: Gen[List[(Long, Double)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(0L, 9L), Gen.choose(-100.0, 100.0)))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("filter composition ≡ filter of conjunction") {
    samples(rowsGen, 8).foreach { rows =>
      val df = rows.toDF("k", "v")
      val twice = df.filter(col("v") > 0.0).filter(col("k") < 5L).count()
      val once = df.filter(col("v") > 0.0 && col("k") < 5L).count()
      assert(twice == once)
    }
  }

  test("groupBy sum partitions the total (partial aggregation is lossless)") {
    samples(rowsGen, 8).foreach { rows =>
      val df = rows.toDF("k", "v").repartition(4)
      val grouped = df.groupBy("k").agg(sum(col("v").cast("decimal(28,6)")).as("s"))
        .agg(sum("s")).head().getDecimal(0)
      val total = df.agg(sum(col("v").cast("decimal(28,6)"))).head().getDecimal(0)
      assert(grouped.compareTo(total) == 0)
    }
  }

  test("inner self-join on unique key preserves row count") {
    samples(rowsGen, 8).foreach { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      assert(df.join(df.select(col("id"), col("v").as("v2")), "id").count()
        == rows.length)
    }
  }

  test("sort is a permutation and orders the key") {
    samples(rowsGen, 8).foreach { rows =>
      val df = rows.toDF("k", "v")
      val sorted = df.orderBy("v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(sorted.sorted.toSeq == rows.map(t => (t._1, t._2)).sorted)
      assert(sorted.map(_._2).toSeq == sorted.map(_._2).sorted.toSeq)
    }
  }

  test("asOf join agrees with per-row brute force on random events") {
    import java.sql.Timestamp
    val evGen = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 1000L), Gen.choose(0.0, 9.0)))
    samples(evGen, 5).foreach { evs =>
      // unique (user, ts) pairs; split into left/right halves
      val uniq = evs.map { case (u, t, v) => ((u, t), v) }.toMap.toSeq
        .map { case ((u, t), v) => (u, new Timestamp(t), v) }
      val (l, r) = uniq.zipWithIndex.partition(_._2 % 2 == 0)
      val left = l.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
        .toDF("id", "u", "ts", "lv")
      val right = r.map { case ((u, t, v), _) => (u, t, v) }.toDF("u", "ts", "rv")
      val got = operators.AsOfJoin.asOf(left, right, Seq("u"), "ts", Seq("rv"))
        .collect().map(row => row.getAs[Long]("id") -> row.getAs[Any]("rv")).toMap
      val rights = r.map(_._1)
      val want = l.map { case ((u, t, _), i) =>
        val cand = rights.filter(x => x._1 == u && !x._2.after(t))
        i.toLong -> (if (cand.isEmpty) null else cand.maxBy(_._2.getTime)._3)
      }.toMap
      assert(got == want)

      // tolerance: a match older than tolUs degrades to NULL (pandas
      // merge_asof tolerance semantics)
      val tolUs = 300L * 1000L // 300 ms of the 0..1000 ms ts range
      val gotTol = operators.AsOfJoin.asOf(left, right, Seq("u"), "ts",
          Seq("rv"), toleranceUs = tolUs)
        .collect().map(row => row.getAs[Long]("id") -> row.getAs[Any]("rv")).toMap
      val wantTol = l.map { case ((u, t, _), i) =>
        val cand = rights.filter(x => x._1 == u && !x._2.after(t)
          && (t.getTime - x._2.getTime) * 1000L <= tolUs)
        i.toLong -> (if (cand.isEmpty) null else cand.maxBy(_._2.getTime)._3)
      }.toMap
      assert(gotTol == wantTol)

      // forward direction: earliest right at-or-after (pandas
      // merge_asof direction='forward')
      val gotFwd = operators.AsOfJoin.asOf(left, right, Seq("u"), "ts",
          Seq("rv"), direction = "forward")
        .collect().map(row => row.getAs[Long]("id") -> row.getAs[Any]("rv")).toMap
      val wantFwd = l.map { case ((u, t, _), i) =>
        val cand = rights.filter(x => x._1 == u && !x._2.before(t))
        i.toLong -> (if (cand.isEmpty) null else cand.minBy(_._2.getTime)._3)
      }.toMap
      assert(gotFwd == wantFwd)

      // nearest: closer of the two candidates, backward wins ties
      val gotNear = operators.AsOfJoin.asOf(left, right, Seq("u"), "ts",
          Seq("rv"), direction = "nearest")
        .collect().map(row => row.getAs[Long]("id") -> row.getAs[Any]("rv")).toMap
      val wantNear = l.map { case ((u, t, _), i) =>
        val back = rights.filter(x => x._1 == u && !x._2.after(t))
          .sortBy(_._2.getTime).lastOption
        val fwd = rights.filter(x => x._1 == u && !x._2.before(t))
          .sortBy(_._2.getTime).headOption
        val pick = (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (t.getTime - b._2.getTime <= f._2.getTime - t.getTime) Some(b)
            else Some(f)
          case (b, f) => b.orElse(f)
        }
        i.toLong -> pick.map(_._3).getOrElse(null)
      }.toMap
      assert(gotNear == wantNear)

      // allow_exact_matches = false: the equal-ts right is invisible
      val gotStrict = operators.AsOfJoin.asOf(left, right, Seq("u"), "ts",
          Seq("rv"), allowExactMatches = false)
        .collect().map(row => row.getAs[Long]("id") -> row.getAs[Any]("rv")).toMap
      val wantStrict = l.map { case ((u, t, _), i) =>
        val cand = rights.filter(x => x._1 == u && x._2.before(t))
        i.toLong -> (if (cand.isEmpty) null else cand.maxBy(_._2.getTime)._3)
      }.toMap
      assert(gotStrict == wantStrict)
    }
  }

  test("ordinal ids are exactly 0..n-1 regardless of partitioning") {
    samples(Gen.zip(rowsGen, Gen.choose(1, 6)), 6).foreach { case (rows, parts) =>
      val df = rows.zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
        .toDF("id", "v").repartition(parts)
      val ords = operators.Ordinal.withOrdinal(df, Seq(col("id")))
        .select("ord").collect().map(_.getLong(0)).sorted.toSeq
      assert(ords == (0L until rows.length).toSeq)
    }
  }

  test("stratified sample is deterministic and partition-invariant") {
    val dir = "/root/testdata/sf0.001"
    def run() = queries.Sampling.queries("q_sample_stratified")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val a = run()
    val b = run()
    assert(a.nonEmpty && a == b)
    // hash-derived membership cannot depend on physical layout: the train
    // fraction of survivors must be the bucket-decade rule exactly
    a.foreach { r =>
      val bucket = r(2).asInstanceOf[Long]
      val split = r(3).asInstanceOf[String]
      assert((bucket % 10 < 8) == (split == "train"), r)
    }
  }

  test("LSH near-dup pairs ⊆ exact all-pairs near-dups (same threshold)") {
    // Candidate filtering can only LOSE pairs, never invent them, and
    // every surviving pair's cosine must equal the exact leg's value.
    val dir = "/root/testdata/sf0.001"
    val exact = queries.Similarity.queries("q_dedup_embed")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = queries.Similarity.queries("q_dedup_embed_lsh")(spark, dir).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"LSH invented pair $key")
      assert(exact(key) == r.getDouble(2), s"cosine mismatch at $key")
    }
  }

  test("connected components ≡ union-find on random edge lists") {
    val edgeGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(40, Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
        .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) })
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val got = queries.Fingerprints.components(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // driver-side union-find ground truth
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val roots = parent.keys.toSeq.map(x => x -> find(x))
      // same node set, and per node the same min-root
      val want = roots.groupBy(_._2).values.flatMap { members =>
        val lo = members.map(_._1).min
        members.map { case (n, _) => n -> lo }
      }.toMap
      assert(got == want, s"\nedges=$edges\ngot=$got\nwant=$want")
    }
  }

  test("round-4 query results are shuffle-partition-invariant (exact numerics)") {
    // the determinism contract (oracle hash-compare) requires results
    // to be independent of the physical partitioning; these queries mix
    // aggregation and double division, so an accidental float SUM would
    // surface here as a partition-count-dependent low bit
    val sf = "/root/testdata/sf0.001"
    val qs: Seq[(String, () => Seq[org.apache.spark.sql.Row])] = Seq(
      "kmeans" -> (() => queries.Similarity.qKmeansIter(spark, sf).collect().toSeq),
      "unigram" -> (() => queries.CorpusQuality.qTextUnigramScore(spark, sf).collect().toSeq),
      "boilerplate" -> (() => queries.CorpusQuality.qTextBoilerplate(spark, sf).collect().toSeq),
      "pq" -> (() => queries.Similarity.qEmbedPq(spark, sf).collect().toSeq),
      // round-5 additions: the hybrid near-dup's band join + confirm,
      // the 2-round trained codebooks, and the BPE driver loop's
      // per-round argmax must all be partition-count-independent
      "hybrid" -> (() => queries.Similarity.qDedupEmbedHybrid(spark, sf).collect().toSeq),
      "pq_trained" -> (() => queries.Similarity.qEmbedPqTrained(spark, sf).collect().toSeq),
      "bpe_merges" -> (() => queries.CorpusQuality.qBpeMerges(spark, sf).collect().toSeq),
      // late round-5: percentile-disc thresholds, decimal-moment
      // z-scores, and the Q5 star join's decimal revenue sums
      "quality_gate" -> (() => queries.CorpusQuality.qQualityGate(spark, sf).collect().toSeq),
      "event_anomaly" -> (() => queries.Windows.qEventAnomaly(spark, sf).collect().toSeq),
      "q5" -> (() => queries.Joins.q5LocalRevenue(spark, sf).collect().toSeq),
      // resample/rank/paragraph-dedup/Q18 additions: decimal means over
      // a generated grid, range-partitioned global ranks, md5 keeper
      // election, and the agg-gated double fact pass
      "resample" -> (() => queries.Windows.qEventsResample(spark, sf).collect().toSeq),
      "rank_global" -> (() => queries.Positional.qRankGlobal(spark, sf).collect().toSeq),
      "para_dedup" -> (() => queries.Dedup.qDedupParagraph(spark, sf).collect().toSeq),
      "q18" -> (() => queries.Joins.q18LargeOrders(spark, sf).collect().toSeq),
      // round-6: histogram-cumsum percentiles (window over hash agg),
      // the broadcast eval-cos decontamination, and the two-leg recall
      // overlap must be partition-count-independent
      "length_quantiles" -> (() => queries.CorpusQuality.qLengthQuantiles(spark, sf).collect().toSeq),
      "decont_embed" -> (() => queries.Similarity.qDecontaminateEmbed(spark, sf).collect().toSeq),
      "ann_recall" -> (() => queries.Similarity.qAnnRecall(spark, sf).collect().toSeq),
      // late round-6: integer-mass BSP walk, hash-masked denoising
      // pairs (ordered group-concat), and the standing-index ANN probe
      "walk_mass" -> (() => queries.Similarity.qWalkMass(spark, sf).collect().toSeq),
      "span_corrupt" -> (() => queries.Pipelines.qSpanCorrupt(spark, sf).collect().toSeq),
      "embed_incr" -> (() => queries.Similarity.qEmbedIncremental(spark, sf).collect().toSeq),
      // this session: the correlated-threshold float filter (Q17), the
      // fixed-point DSIR score, the driver-looped BPE encode, and the
      // percentile-disc skew summary must be partition-count-independent
      "q17" -> (() => queries.TpchDeep.q17SmallQty(spark, sf).collect().toSeq),
      "dsir" -> (() => queries.CorpusQuality.qDsirSelect(spark, sf).collect().toSeq),
      "bpe_encode" -> (() => queries.CorpusQuality.qBpeEncode(spark, sf).collect().toSeq),
      "skew_stats" -> (() => queries.Pipelines.qSkewStats(spark, sf).collect().toSeq),
      // pandas-ext: the histogram-CDF selections (describe/qcut), the
      // two-phase prefix scan (range layout must not leak into values),
      // the rolling prefix-difference, and the ordinal-join lag family
      "describe" -> (() => queries.PandasExt.qDescribe(spark, sf).collect().toSeq),
      "qcut" -> (() => queries.PandasExt.qQcutBins(spark, sf).collect().toSeq),
      "cumsum_global" -> (() => queries.PandasExt.qCumsumGlobal(spark, sf).collect().toSeq),
      "rolling_global" -> (() => queries.PandasExt.qRollingGlobal(spark, sf).collect().toSeq),
      "shift_diff" -> (() => queries.PandasExt.qShiftDiff(spark, sf).collect().toSeq),
      // corpus-stats: the df-cut inverted-index cosine top-k (posting
      // artifact rebuild included via the memo clear below), the
      // histogram-cumsum KS window, and the quota-capped cluster admit
      "doc_sim" -> (() => queries.CorpusStats.qDocSimSparse(spark, sf).collect().toSeq),
      "ks_drift" -> (() => queries.CorpusStats.qKsDrift(spark, sf).collect().toSeq),
      "cluster_balance" -> (() => queries.Similarity.qClusterBalance(spark, sf).collect().toSeq),
      // spectral: the dims²-group Gram aggregate and the artifact-fed
      // power step (the memo clear below forces the gram rebuild too)
      "gram" -> (() => queries.Spectral.qGramMatrix(spark, sf).collect().toSeq),
      "pca_power" -> (() => queries.Spectral.qPcaPower(spark, sf).collect().toSeq),
      // exact-moment analytics: the five-moment OLS aggregate and the
      // marginal-joined PMI lift ranking
      "group_ols" -> (() => queries.CorpusStats.qGroupOls(spark, sf).collect().toSeq),
      "collocations" -> (() => queries.TextAnalysis.qCollocationsPmi(spark, sf).collect().toSeq),
      // the rank-remap interval join: per-source window + histogram
      // cumsum + broadcast range join must be layout-independent
      "quantile_norm" -> (() => queries.CorpusStats.qQuantileNorm(spark, sf).collect().toSeq),
      // trigram path mining (per-user lead windows + expand agg) and
      // the decimal-carried contingency statistic
      "event_paths" -> (() => queries.Windows.qEventPaths(spark, sf).collect().toSeq),
      "chi2" -> (() => queries.CorpusStats.qChi2Assoc(spark, sf).collect().toSeq),
      // the two-moment prefix difference (exact cents² in decimal)
      "rolling_std" -> (() => queries.PandasExt.qRollingStd(spark, sf).collect().toSeq),
      // the two-phase histogram median (rank test over keyed cumsums)
      "robust_stats" -> (() => queries.CorpusStats.qRobustStats(spark, sf).collect().toSeq),
      // round-7: the block-decomposition rolling extrema (block-keyed
      // windows + position joins), the re-quantized 3-round power
      // iteration (solved on the driver: only its Gram rebuild can see
      // layout), the
      // frame-API compare/isna/list legs, and the size-scaled exact
      // all-pairs grid (K from the artifact count)
      "pca_power2" -> (() => queries.Spectral.qPcaPower2(spark, sf).collect().toSeq),
      "frame_compare" -> (() => queries.Relational.qFrameCompare(spark, sf).collect().toSeq),
      "dedup_embed" -> (() => queries.Similarity.qDedupEmbed(spark, sf).collect().toSeq))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val baseline = qs.map { case (n, f) => n -> f() }.toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      // drop the memoized corpus artifacts so they REBUILD under the new
      // partitioning — otherwise cache-backed queries would be trivially
      // invariant and the artifact build itself would go untested
      graft.Caches.clear(spark)
      qs.foreach { case (n, f) =>
        assert(f() == baseline(n), s"$n differs at 7 shuffle partitions")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      graft.Caches.clear(spark)
    }
  }

  test("span hashes ≡ brute-force distinct window hashes, incl. non-ASCII") {
    import graft.functions.SpanHashMath.{P, Pow, W, spanHashes}
    import org.apache.spark.unsafe.types.UTF8String
    // mix ASCII with multi-byte BMP chars and astral (surrogate-pair)
    // code points — the kernel iterates code points, so windows must
    // line up with the code-point view, not UTF-16 units
    val cp = Gen.frequency(
      8 -> Gen.choose(32, 126),
      1 -> Gen.oneOf(0xe9, 0x4e2d, 0x2603), // é, 中, ☃ (BMP, multi-byte)
      1 -> Gen.oneOf(0x1f600, 0x10348)) // astral: emoji, Gothic hwair
    val text = Gen.choose(0, 120)
      .flatMap(n => Gen.listOfN(n, cp).map(
        _.map(Character.toChars(_).mkString).mkString))
    samples(text, 60).foreach { s =>
      val got = {
        val a = spanHashes(UTF8String.fromString(s))
        (0 until a.numElements()).map(a.getLong)
      }
      val cps = s.codePoints().toArray
      val want =
        if (cps.length < W) Seq.empty[Long]
        else (0 to cps.length - W).map { i =>
          (0 until W).map(j => cps(i + j).toLong * Pow(j)).sum % P
        }.distinct.sorted
      assert(got == want, s"text=${s.take(60)}…")
    }
  }

  test("z-order interleave is a bijection: odd/even bit extraction decodes both keys") {
    samples(Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)), 60)
      .foreach { case (a, b) =>
        // mirror of Pipelines.zInterleave's bit layout: a on odd bits,
        // b on even bits
        val z = (0 until 16).map { i =>
          (((a >> i) & 1L) << (2 * i + 1)) + (((b >> i) & 1L) << (2 * i))
        }.sum
        val da = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        val db = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
        assert(da == a && db == b, s"a=$a b=$b z=$z")
      }
  }
}
