package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape and semantics tests for the storage-layout / pipeline
  * operators ([[Pipelines]]) and the connected-components clustering
  * ([[Fingerprints.components]]).
  */
class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bucketed join plan has no Exchange on the join key and matches the plain join") {
    // Force the join shape that matters at scale (orders too big to
    // broadcast): the SMJ must consume the bucket layout directly —
    // no exchange on either join key. (The aggregate's tiny exchange on
    // o_orderpriority is a different key and expected.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (df, plan) =
      try {
        val d = Pipelines.qBucketedJoin(spark, sf)
        (d, d.queryExecution.executedPlan.toString) // force plan under the conf
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.matches(
      "(?s).*Exchange hashpartitioning\\((l_orderkey|o_orderkey).*"),
      s"bucketed join must not shuffle its join keys:\n$plan")
    val plain = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")
    assertFrame(df, plain.collect().toSeq.map(_.toSeq))
  }

  test("partitioned read prunes directories via PartitionFilters") {
    val df = Pipelines.qPartitionPrune(spark, sf)
    // The partition predicate must appear as a PartitionFilter on the
    // scan (directory pruning), not as a row-level data filter.
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("event_type"),
      s"expected event_type in PartitionFilters:\n$scan")
    val plain = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), Q.dsum(col("value")).as("total"))
      .orderBy("user_id")
    assertFrame(df, plain.collect().toSeq.map(_.toSeq))
  }

  test("sequence packing matches a sequential brute-force layout") {
    val got = Pipelines.qSeqPack(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, id, n) =>
        val seq = cum / 2048L // doc starts at offset `cum`
        cum += n
        (src, seq, id, n)
      }.groupBy(_._2).map { case (seq, ds) =>
        (src, seq, ds.size.toLong, ds.map(_._4).sum, ds.map(_._3).min)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("redaction chain replaces emails, IPs, and phone numbers") {
    val got = Pipelines.qTextRedact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(
      1L -> "contact [EMAIL] or [EMAIL] for details",
      2L -> "call [PHONE] tomorrow morning",
      3L -> "server [IP] responded; backup at [IP]",
      4L -> "no sensitive content in this row",
      5L -> "mixed: [EMAIL], phone [PHONE], host [IP]"))
  }

  test("connected components labels chains and leaves islands apart") {
    // 1-2, 2-3, 3-4 chain; 10-11; 20 alone (absent: not an endpoint).
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Fingerprints.components(edges).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("cluster representatives: one per component, the min doc_id") {
    val labels = Fingerprints.qDedupCluster(spark, sf)
    val byCluster = labels.groupBy("cluster")
      .agg(min("doc_id").as("lo"), count(lit(1)).as("n"))
    // every cluster id IS its minimum member (idempotent representative)
    assert(byCluster.filter(col("cluster") =!= col("lo")).count() == 0)
    // clustering refines the pairwise graph: at least 2 docs per cluster
    assert(byCluster.filter(col("n") < 2).count() == 0)
  }

  test("dynamic partition pruning fires on the partitioned events layout") {
    val ev = Pipelines.partitionedEvents(spark, sf)
    // the dim must come from a source with a real (non-constant-folded)
    // filter — a LocalRelation folds the predicate away and the pruning
    // rule sees no selective filter to propagate
    val dimPath = tmpDir("dpp") + "/dim"
    Seq(("purchase", 1), ("view", 0), ("click", 0))
      .toDF("event_type", "keep")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = ev.join(dim.filter(col("keep") === 1), Seq("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString.toLowerCase
    // the fact scan's partition filter must carry a runtime pruning
    // subquery on event_type — directory pruning decided by the dim's
    // filter result, the mechanism that turns "scan all partitions"
    // into "scan the one day/source that survives the dim filter"
    assert(plan.contains("dynamicpruning"),
      s"expected a DynamicPruning partition filter:\n$plan")
    assert(q.collect().nonEmpty)
  }

  test("AQE splits a planted skewed join at runtime; salting matches it") {
    // When skew is only discovered at runtime, AQE's skew-join handling
    // is the first line of defense — Salt.saltedJoin is the STATIC
    // fallback for skew known up front (hot default keys, stop
    // shingles), where salting avoids even building the skewed
    // partition. This pins down that the planted skew actually trips
    // AQE (so docs can say when salting is and isn't needed).
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key (0) carries 20k of 21k rows with a fat payload —
      // its shuffle partition dwarfs the median and the 64 KB threshold
      val left = spark.range(21000).select(
        when(col("id") < 20000L, 0L).otherwise(col("id")).as("k"),
        lpad(col("id").cast("string"), 120, "x").as("pad"))
      val right = spark.range(200).select(col("id").as("k"), lit(1).as("v"))
      val joined = left.join(right, "k")
      // execute THIS dataset's own queryExecution (count() would clone
      // the plan and leave this one unfinalized)
      val n = joined.collect().length.toLong
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"planted skew must trip AQE's skew-join split:\n$plan")
      // the static salted join computes the same result
      val salted = graft.operators.Salt.saltedJoin(left, right, "k")
      assert(salted.count() == n)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("posting-index append maintenance: idempotent, side caches kept") {
    // Reset the artifact chain first: an earlier suite in this shared
    // session (PlanGuardSpec builds every registered query's plan, and
    // building qDedupIndexAppend executes the merge) may already have
    // committed the append — which would send the first run below down
    // the empty-increment no-op path and never call replace. clearAll
    // puts the session back at the pre-append state regardless of suite
    // order.
    graft.Caches.clearAll()
    @volatile var computed = 0
    def side(): Int =
      graft.Caches.memoSide(spark, sf, "append_probe") { computed += 1; computed }
    assert(side() == 1 && side() == 1, "memoSide computes once per key")
    val first = Fingerprints.qDedupIndexAppend(spark, sf).collect().toSeq
    assert(side() == 1, "the append's replace must swap only its own artifact")
    // re-running re-merges the batch into the already-merged artifact;
    // the (doc_id, h) re-dedup makes that a no-op, like MERGE INTO
    val second = Fingerprints.qDedupIndexAppend(spark, sf).collect().toSeq
    assert(second == first, "append must be idempotent")
  }

  test("bloom decontamination probe is native codegen, no driver-built sketch") {
    val df = Fingerprints.qDecontaminateBloom(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the probe must be Spark's BloomFilterMightContain expression fed by
    // an in-plan bloom_filter_agg scalar subquery — not a closure UDF
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"bloom probe must not be an interpreted UDF:\n$plan")
    assert(plan.contains("might_contain"),
      s"expected the native might_contain probe:\n$plan")
    // prefilter + exact confirm ≡ the exact path
    assertFrame(df,
      Fingerprints.qDecontaminate(spark, sf).collect().toSeq.map(_.toSeq))
  }

  test("incremental dedup covers every new doc; rejects have an old-corpus witness") {
    val out = Fingerprints.qDedupIncremental(spark, sf).cache()
    try {
      val docs = graft.Tables.documents(spark, sf)
      val b = math.floor(docs.count() * 0.8).toLong
      // one verdict row per new doc
      assert(out.count() == docs.filter(col("doc_id") >= b).count())
      val rejected = out.filter(!col("admitted"))
        .select("doc_id", "dup_of", "n_matches").collect()
      rejected.foreach { r =>
        // the witness is an existing (pre-boundary) doc, and the match
        // count is positive
        assert(r.getAs[Long]("dup_of") >= 0 && r.getAs[Long]("dup_of") < b)
        assert(r.getAs[Long]("n_matches") >= 1)
      }
      // admitted rows carry the no-match sentinels
      val admitted = out.filter(col("admitted")).collect()
      admitted.foreach { r =>
        assert(r.getAs[Long]("dup_of") == -1L && r.getAs[Long]("n_matches") == 0L)
      }
      // every rejected doc belongs to a near-dup component whose label
      // is an old doc (the cluster query sees the same confirmed edges)
      val labels = Fingerprints.qDedupCluster(spark, sf)
      val bad = out.filter(!col("admitted")).select("doc_id")
        .join(labels, "doc_id").filter(col("cluster") >= b)
      assert(bad.count() == 0)
    } finally { out.unpersist(); () }
  }

  test("span corruption reconstructs: sentinels zip with target spans back to the original") {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val out = Pipelines.qSpanCorrupt(spark, sf).collect()
    assert(out.length == docs.size)
    val sentinel = "<extra_id_(\\d+)>".r
    out.foreach { r =>
      val (docId, input, target, nMasked) =
        (r.getAs[Long]("doc_id"), r.getAs[String]("input"),
          r.getAs[String]("target"), r.getAs[Long]("n_masked"))
      // sentinel ids in the input are 0..n−1 in order, and the target
      // carries exactly the same sentinels
      val inIds = sentinel.findAllMatchIn(input).map(_.group(1).toInt).toSeq
      assert(inIds == (0 until nMasked.toInt), s"doc $docId sentinel ids $inIds")
      val tgtIds = sentinel.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(tgtIds == inIds, s"doc $docId target sentinels differ")
      // substituting each sentinel with its target span reconstructs
      // the original text exactly — nothing lost, nothing reordered
      val spans = sentinel.split(target).map(_.trim).filter(_.nonEmpty)
      assert(spans.length == nMasked.toInt, s"doc $docId span count")
      val rebuilt = inIds.zip(spans).foldLeft(input) { case (acc, (k, span)) =>
        acc.replace(s"<extra_id_$k>", span)
      }
      assert(rebuilt == docs(docId), s"doc $docId does not reconstruct")
    }
  }

  test("shard sink: files bounded, shards contiguous, manifest reconciles with pack totals") {
    val manifest = Pipelines.qShardManifest(spark, sf).collect()
    assert(manifest.nonEmpty)
    // filesystem property: every written parquet file respects the
    // per-file row cap (maxRecordsPerFile is a real bound, not a hint)
    val perFile = Pipelines.shardRows(spark, sf)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect()
    assert(perFile.nonEmpty)
    perFile.foreach { r =>
      assert(r.getAs[Long]("n") <= Pipelines.ShardFileRows,
        s"${r.getAs[String]("f")} has ${r.getAs[Long]("n")} rows")
    }
    // shards partition the packed corpus into contiguous sequence runs:
    // shard ids are dense 0..K-1 and every non-final shard holds exactly
    // SeqsPerShard distinct sequences
    val seqsPerShard = manifest.groupBy(_.getAs[Long]("shard_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_seqs")).sum).toMap
    val ids = seqsPerShard.keys.toSeq.sorted
    assert(ids == (0L until ids.length.toLong))
    ids.init.foreach(k => assert(seqsPerShard(k) == Pipelines.SeqsPerShard,
      s"shard $k has ${seqsPerShard(k)} seqs"))
    // manifest reconciles with the packing-efficiency telemetry: token
    // and doc totals per source agree between the written shards and
    // the purely-logical plan
    val fromManifest = manifest.groupBy(_.getAs[String]("source"))
      .view.mapValues(rs => (rs.map(_.getAs[Long]("tok_total")).sum,
        rs.map(_.getAs[Long]("n_docs")).sum)).toMap
    Pipelines.qPackEfficiency(spark, sf).collect().foreach { r =>
      val (tok, docs) = fromManifest(r.getAs[String]("source"))
      assert(tok == r.getAs[Long]("tok_total"))
      assert(docs == r.getAs[Long]("n_docs"))
    }
    // shard-level totals in the manifest are consistent with their own
    // per-source rows
    manifest.groupBy(_.getAs[Long]("shard_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_docs")).sum == rs.head.getAs[Long]("shard_docs"))
      assert(rs.map(_.getAs[Long]("tok_total")).sum == rs.head.getAs[Long]("shard_toks"))
    }
  }
}
