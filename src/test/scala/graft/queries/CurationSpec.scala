package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariant specs for the round-5 curation additions: leakage-free
  * cluster-aware splitting, the Gopher rule battery, and the
  * token-budget epoch schedule.
  */
class CurationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("cluster split: no near-dup pair ever crosses the train/val boundary") {
    val split = Fingerprints.qClusterSplit(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // every CONFIRMED near-dup pair must land on one side — the exact
    // leakage plain per-doc hashing allows. (Unconfirmed LSH candidates
    // may legitimately cross: they are not near-dups.)
    val pairs = Fingerprints.confirmedPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.nonEmpty, "fixture has no near-dup pairs to check")
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"pair ($a,$b) split across train/val")
    }
    // and transitively: same component ⇒ same split
    val comp = Fingerprints.qDedupCluster(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster"))
    comp.groupBy(_._2).values.foreach { members =>
      assert(members.map(m => split(m._1)).distinct.length == 1)
    }
  }

  test("removal reasons reconcile exactly with the funnel stage counts") {
    val reasons = Fingerprints.qRemovalReasons(spark, dir).collect()
      .groupBy(_.getAs[String]("reason")).view.mapValues(_.length.toLong).toMap
    val funnel = Fingerprints.qCleanFunnel(spark, dir).collect()
      .map(r => r.getAs[Long]("stage") -> r.getAs[Long]("n_docs")).toMap
    val n = (k: String) => reasons.getOrElse(k, 0L)
    // every doc gets exactly one reason; stage survivor counts are the
    // suffix sums of the reason cascade
    assert(reasons.values.sum == funnel(0), "one reason per raw doc")
    assert(funnel(1) == n("kept") + n("near_dup") + n("exact_dup"),
      "gate survivors = docs past quality+lang")
    assert(funnel(2) == n("kept") + n("near_dup"),
      "exact-dedup survivors = kept + near-dup removals")
    assert(funnel(3) == n("kept"), "near-dedup survivors = kept")
  }

  test("gopher rules: verdict is the conjunction; rules replay on a hand doc") {
    val rows = TextAnalysis.qGopherRules(spark, dir).collect()
    rows.foreach { r =>
      val all = Seq("r_word_count", "r_mean_word_len", "r_stopwords",
        "r_dup_word", "r_alpha").map(c => r.getAs[Boolean](c))
      assert(r.getAs[Boolean]("verdict") == all.forall(identity))
    }
    // replay doc 0 from its raw text
    val text = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") === 0L).select("text").head().getString(0)
    val words = text.split(" ", -1).toSeq
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "it")
    val r0 = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(r0.getAs[Long]("n_words") == words.length)
    assert(r0.getAs[Boolean]("r_word_count") ==
      (words.length >= 30 && words.length <= 100000))
    assert(r0.getAs[Boolean]("r_stopwords") == (words.count(stop) >= 2))
    val maxWf = words.groupBy(identity).values.map(_.size).max
    assert(r0.getAs[Boolean]("r_dup_word") == (maxWf * 5 <= words.length))
  }

  test("source sketch: signatures are mergeable mins; estimate is exact on identical sets") {
    import spark.implicits._
    val post = Fingerprints.postings(spark, dir)
      .join(graft.Tables.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .select("source", "h").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // driver replay of one signature coordinate — the j=0 two-family
    // 62-bit permutation from the Fingerprints-owned constants directly
    // (regex-scraping the oracle SQL broke silently when the spelling
    // widened in round 10)
    import graft.queries.{Fingerprints => F}
    def sig0(h: Long): Long =
      ((F.A(0) * (h % F.P) + F.B(0)) % F.P) * F.P2 +
        ((F.A2(0) * (h % F.P2) + F.B2(0)) % F.P2)
    val bySrc = post.groupBy(_._1).map { case (s0, hs) =>
      s0 -> hs.map { case (_, h) => sig0(h) }.min
    }
    // mergeability: min over the union ≡ min of per-half mins
    bySrc.foreach { case (s0, full) =>
      val hs = post.filter(_._1 == s0).map(_._2)
      val (lo, hi) = hs.partition(_ % 2 == 0)
      val halves = Seq(lo, hi).filter(_.nonEmpty)
        .map(_.map(sig0).min).min
      assert(full == halves, s"sketch of $s0 is not a mergeable min")
    }
    // the query's n_match over a source paired with ITSELF would be 16;
    // check estimates live in [0,1] and self-consistency via output
    val rows = Fingerprints.qSourceSketchSim(spark, dir).collect()
    assert(rows.length == bySrc.size * (bySrc.size - 1) / 2)
    rows.foreach { r =>
      val e = r.getAs[Double]("est_jaccard")
      assert(e >= 0.0 && e <= 1.0)
      assert(e == r.getAs[Int]("n_match") / 16.0)
    }
  }

  test("epoch schedule: targets honor the budget, epochs cover the target exactly") {
    val rows = CorpusQuality.qEpochSchedule(spark, dir).collect()
    val totalAvail = rows.map(_.getAs[Long]("avail_tokens")).sum
    val budget = totalAvail * 2
    // floors can only under-consume the budget, never exceed it
    assert(rows.map(_.getAs[Long]("target_tokens")).sum <= budget)
    assert(math.abs(rows.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-9)
    rows.foreach { r =>
      val (avail, target, epochs, last) = (r.getAs[Long]("avail_tokens"),
        r.getAs[Long]("target_tokens"), r.getAs[Long]("epochs"),
        r.getAs[Long]("last_epoch_tokens"))
      // epochs is the exact ceiling of target/avail
      assert(epochs == (target + avail - 1) / avail)
      if (epochs > 0) {
        assert((epochs - 1) * avail < target && target <= epochs * avail)
        assert(last == target - (epochs - 1) * avail && last > 0 && last <= avail)
      } else assert(target == 0 && last == 0)
    }
    // the 2× budget forces repetition somewhere: at least one source
    // runs more than one epoch
    assert(rows.exists(_.getAs[Long]("epochs") >= 2))
  }
}
