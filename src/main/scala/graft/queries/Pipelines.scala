package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-layout and corpus-preparation operators a production
  * training-data pipeline runs at 100 TB — each one exercising a piece
  * of physical design the plain per-query suite cannot show:
  *
  *  - '''bucketed co-located join''' ([[qBucketedJoin]]): the SURVEY §7
  *    strategy of pre-bucketing fact tables on their join key so every
  *    subsequent join/groupBy on that key skips its shuffle entirely.
  *  - '''partition pruning''' ([[qPartitionPrune]]): hive-style
  *    partitioned layout so a filter on the partition column prunes
  *    whole directories at planning time — the scan never opens
  *    non-matching files.
  *  - '''sequence packing''' ([[qSeqPack]]): assigning documents to
  *    fixed-token-budget training sequences — one window cumsum, no
  *    driver-side loop.
  *  - '''PII redaction''' ([[qTextRedact]]): chained codegen'd
  *    regexp_replace over text (map-only at any scale). The parquet
  *    corpus is synthetic word-salad with nothing to redact, so the
  *    query runs over a literal in-memory frame and the oracle replays
  *    the same literals via VALUES — the checked surface is the
  *    redaction chain itself.
  *
  * The bucketed tables, the partitioned directory and the training
  * shards are written ONCE per (session, corpus): each is one
  * `Caches.memoSide` whose value is the frame over the files, written
  * into a session [[graft.Scratch]] dir — the local-mode analog of a
  * pipeline's one-off layout job; queries only pay the read path, and
  * `Caches.clear` drops the frame and its files together. [[prewarm]]
  * triggers the writes so Bench accounts them as prep.
  */
object Pipelines extends QueryModule {

  private def ident(dir: String): String =
    dir.map(c => if (c.isLetterOrDigit) c else '_')

  // ---- bucketed co-located join ----

  private val Buckets = 32

  /** Write lineitem + orders bucketed AND sorted by their join key, one
    * file per bucket (the repartition matches Spark's bucket hash, so
    * each task owns whole buckets). At 100 TB this is the one-off
    * layout job; after it, every orderkey join/groupBy is exchange-free.
    * The tables are EXTERNAL, at a session scratch path (the directory
    * names are the tables' base names); the catalog is shared by every
    * session of the context, so each write registers under a name
    * unique to its scratch dir.
    */
  private def bucketed(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Caches.memoSide(s, dir, "bucketed") {
      val at = graft.Scratch.dirFor(s, "bucketed")
      def write(df: DataFrame, key: String, name: String): DataFrame = {
        val table = s"${name}_${at.getFileName}"
        df.repartition(Buckets, col(key))
          .write.option("path", at.resolve(name).toString)
          .bucketBy(Buckets, key).sortBy(key)
          .format("parquet").saveAsTable(table)
        s.table(table)
      }
      val suf = ident(dir)
      (write(Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
          "l_orderkey", s"graft_li_$suf"),
        write(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          "o_orderkey", s"graft_ord_$suf"))
    }

  /** Fact⋈fact join + aggregation over the pre-bucketed tables: both
    * scans report their bucket layout, the sort-merge join consumes it,
    * and the plan carries NO Exchange before the join (verified in
    * PipelinesSpec) — the shuffle that dominates a 100 TB join is paid
    * once at layout time instead of per query.
    */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (li, ord) = bucketed(s, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Q.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  // ---- partition-pruned scan ----

  /** Hive-style layout: events written partitioned by event_type, so a
    * predicate on event_type prunes directories at planning time (the
    * plan's PartitionFilters — scan never opens non-matching files).
    * Shared with specs that assert layout-dependent plan shapes
    * (partition pruning, dynamic partition pruning).
    */
  private[queries] def partitionedEvents(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memoSide(s, dir, "events_by_type") {
      val p = graft.Scratch.dirFor(s, "parts")
        .resolve(s"events_by_type_${ident(dir)}").toString
      Tables.events(s, dir)
        .select("event_id", "user_id", "value", "event_type")
        .write.partitionBy("event_type").parquet(p)
      // memoized with the layout: re-reading re-infers the footer
      // schema (a job per construction — PlanGuardSpec)
      s.read.parquet(p)
    }

  /** Per-user purchase totals read through the partitioned layout: the
    * event_type predicate never touches row data — it prunes the
    * directory listing. At 100 TB with date/source partitions this is
    * the difference between scanning everything and scanning one day.
    */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    partitionedEvents(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), Q.dsum(col("value")).as("total"))
      .orderBy("user_id")
  }

  // ---- sequence packing ----

  private[queries] val SeqTokens = 2048L

  /** The token-budget sequence id: (source, doc_id, `carry`…, n_tok,
    * cum, seq) rows where, within each source, documents in doc_id
    * order are laid end-to-end and a document belongs to the sequence
    * its first token lands in. One window cumsum partitioned by source,
    * so no global sort barrier.
    */
  private def withSeq(docs: DataFrame, carry: Column*): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select((Seq(col("source"), col("doc_id")) ++ carry :+
        size(split(col("text"), " ")).cast("long").as("n_tok")): _*)
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq",
        floor((col("cum") - col("n_tok")) / lit(SeqTokens.toDouble)).cast("long"))
  }

  /** One row per packed sequence of `docs`: doc count, token total and
    * first doc.
    */
  private def seqRows(docs: DataFrame): DataFrame =
    withSeq(docs)
      .groupBy("source", "seq")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("source", "seq")

  /** Pack documents into fixed-budget training sequences ([[withSeq]]):
    * one partitioned window cumsum + one aggregation, no driver loop.
    */
  def qSeqPack(s: SparkSession, dir: String): DataFrame =
    seqRows(Tables.documents(s, dir))

  /** Packing-efficiency telemetry over the [[qSeqPack]] layout: per
    * source, sequences used, token total, capacity, and fill fraction —
    * the number a pipeline owner watches to decide whether the packing
    * policy (doc order, sequence budget, greedy vs bin-packing) is
    * wasting accelerator time on padding. Same window-cumsum plan as
    * the packer plus one aggregate; the fill fraction is a double
    * division of exact longs.
    */
  def qPackEfficiency(s: SparkSession, dir: String): DataFrame =
    withSeq(Tables.documents(s, dir))
      .groupBy("source")
      .agg(countDistinct(col("seq")).as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"))
      .select(col("source"), col("n_seqs"), col("n_docs"), col("tok_total"),
        (col("n_seqs") * lit(SeqTokens)).as("capacity"),
        (col("tok_total").cast("double") / (col("n_seqs") * lit(SeqTokens)))
          .as("fill_frac"))
      .orderBy("source")

  // ---- training-shard materialization sink ----

  private[queries] val SeqsPerShard = 8L
  /** Per-file row bound on the shard writes ([[Io.compactedParquet]]'s
    * `maxRecordsPerFile` discipline): Spark's own file-split point, so
    * one hot shard can never produce a monster file.
    */
  private[queries] val ShardFileRows = 512L

  /** Doc-grain packed layout — the [[qSeqPack]] window (per-source
    * cumsum → sequence id), carrying text for the shard payload.
    */
  private def packedDocs(s: SparkSession, dir: String): DataFrame =
    withSeq(Tables.documents(s, dir), col("text")).drop("cum")

  /** Sequences → shards: global sequence ordinal (via the scalable
    * [[graft.operators.Ordinal]] range-layout machinery — NOT an
    * unpartitioned `row_number` window, which would single-thread a
    * corpus-sized sort) grouped [[SeqsPerShard]] at a time, so shard k
    * holds a contiguous run of the (source, seq) order and shard count
    * grows linearly with the corpus. The assignment frame is
    * sequence-grain (corpus tokens / 2048 rows), joined back to docs on
    * the pack keys.
    */
  private def shardedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = packedDocs(s, dir)
    val assign = graft.operators.Ordinal
      .withOrdinal(docs.select("source", "seq").distinct(),
        Seq(col("source"), col("seq")), "seq_ord")
      .withColumn("shard_id", expr(s"CAST(seq_ord DIV $SeqsPerShard AS BIGINT)"))
      .select("source", "seq", "shard_id")
    docs.join(assign, Seq("source", "seq"))
  }

  /** The production endpoint of the packing pipeline: materialize the
    * packed corpus as one parquet directory per shard
    * (`shard_id=K/...`), rows clustered by (source, doc_id) within each
    * shard and every file capped at [[ShardFileRows]] rows. Written once
    * per (session, corpus); a trainer streams shard k by reading one
    * directory. PipelinesSpec asserts the per-file bound on the files.
    * The value is the written dataset (partition-pruned reads by
    * shard_id); partition-column inference types the directory key
    * INT, so it is normalized to the BIGINT the logical plan produced.
    * Memoized with the files: re-reading re-lists them and re-infers the
    * footer schema per construction.
    */
  private[queries] def shardRows(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memoSide(s, dir, "train_shards") {
      val p = graft.Scratch.dirFor(s, "shards")
        .resolve(s"train_${ident(dir)}").toString
      shardedDocs(s, dir)
        .select(col("shard_id"), col("source"), col("seq"),
          col("doc_id"), col("n_tok"), col("text"))
        .repartition(col("shard_id"))
        .sortWithinPartitions("shard_id", "source", "doc_id")
        .write.option("maxRecordsPerFile", ShardFileRows)
        .partitionBy("shard_id").parquet(p)
      s.read.parquet(p).withColumn("shard_id", col("shard_id").cast("long"))
    }

  /** Per-shard manifest — the handoff record a trainer checks before
    * consuming a shard: per (shard, source) doc/sequence/token counts
    * (the source mix), an order-independent content checksum
    * (commutative DECIMAL(38,0) sum of per-row 60-bit md5 hashes mod
    * 2³¹−1, the [[Aggregations.qTableChecksum]] discipline), and the
    * shard-level totals. Computed FROM THE WRITTEN FILES, so a green
    * oracle row certifies the sink round-trip, not just the plan:
    * DuckDB derives the same manifest from `documents` alone — any
    * row lost, duplicated, or mangled by the write/read legs breaks
    * the count or the checksum. Reconciles with [[qPackEfficiency]]
    * (summing tok_total per source matches; IoSpec asserts it).
    */
  def qShardManifest(s: SparkSession, dir: String): DataFrame = {
    val rows = shardRows(s, dir)
    val bySrc = rows.groupBy("shard_id", "source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("seq")).as("n_seqs"),
      sum(col("n_tok")).as("tok_total"),
      Q.checksum("text").as("checksum"))
    val byShard = rows.groupBy("shard_id").agg(
      count(lit(1)).as("shard_docs"),
      sum(col("n_tok")).as("shard_toks"))
    bySrc.join(byShard, "shard_id")
      .orderBy("shard_id", "source")
  }

  // ---- end-to-end training-data preparation (capstone) ----

  /** The WHOLE training-data pipeline as one declarative plan — what a
    * user of this library actually ships against a 100 TB corpus:
    *
    *   1.–4. corpus clean (quality gate → language-ID gate → exact
    *         dedup → MinHash/LSH+Jaccard near-dup removal) —
    *         [[Fingerprints.corpusCleanSurvivors]];
    *   5.    eval-set exclusion + benchmark decontamination —
    *         [[Fingerprints.contaminatedDocs]] (broadcast semi-join of
    *         the shared posting index, no corpus-side shuffle);
    *   6.    sequence packing of the surviving docs into
    *         [[SeqTokens]]-token training sequences (one partitioned
    *         window cumsum).
    *
    * Output: one row per packed training sequence. Every stage reads
    * the once-materialized corpus artifacts; nothing here shuffles the
    * corpus beyond what the standalone stage queries already pay.
    */
  def qTrainPrep(s: SparkSession, dir: String): DataFrame = {
    val train = Fingerprints.corpusCleanSurvivors(s, dir)
      .select("doc_id")
      .filter(col("doc_id") >= 20) // eval stand-in docs never train
      .join(Fingerprints.contaminatedDocs(s, dir), Seq("doc_id"), "left_anti")
    seqRows(Tables.documents(s, dir).join(train, Seq("doc_id"), "left_semi"))
  }

  // ---- PII redaction ----

  /** Literal rows with plantable PII (the corpus itself is synthetic
    * word-salad). Shared verbatim with the oracle's VALUES clause.
    */
  private val RedactRows: Seq[(Long, String)] = Seq(
    1L -> "contact alice.smith@example.com or bob@mail.co for details",
    2L -> "call +1 (555) 123-4567 tomorrow morning",
    3L -> "server 192.168.1.100 responded; backup at 10.0.0.7",
    4L -> "no sensitive content in this row",
    5L -> "mixed: eve@corp.io, phone 555-987-6543, host 172.16.254.1")

  // Patterns valid (and identical in behavior) in both Java regex and
  // RE2: character classes + bounded repetition only, no lookaround.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private val PhoneRe = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** The redaction chain — order matters: emails first (their local
    * part may contain digits), then IPs (dotted digit runs), then the
    * greedy phone pattern over whatever digit runs remain. Pure
    * codegen'd regexp_replace: map-only over any corpus size.
    */
  def redact(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  def qTextRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    RedactRows.toDF("id", "text")
      .select(col("id"), redact(col("text")).as("clean"))
      .orderBy("id")
  }

  override def prewarm(s: SparkSession, dir: String): Unit = {
    bucketed(s, dir)
    partitionedEvents(s, dir)
    shardRows(s, dir)
  }

  /** Z-order (Morton) layout key over (l_partkey, l_suppkey) and the
    * data-skipping evidence it buys: bit-interleave the two keys (16
    * bits each, masked — a codegen'd shift/mask expression TREE built at
    * plan time, no interpreted lambda), then summarize 32 equal-width
    * z-ranges with each dimension's min/max. Bounded per-range extents
    * in BOTH dimensions are exactly what lets a z-sorted file layout
    * skip row groups for predicates on EITHER key — the multi-dim
    * complement of the single-key `Io.bucketedParquet` layout. At scale
    * the same zval feeds `repartitionByRange(zval).sortWithinPartitions`
    * before the write; here the summary table is the verifiable part.
    */
  private def zInterleave(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .plus(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ + _)

  def qZorder(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").bitwiseAND(lit(65535L)).as("pk"),
        col("l_suppkey").bitwiseAND(lit(65535L)).as("sk"))
      .withColumn("z", zInterleave(col("pk"), col("sk")))
    val mx = li.agg(max(col("z")).as("mz"))
    li.crossJoin(broadcast(mx))
      .withColumn("bucket",
        least(floor(col("z") * 32 / (col("mz") + 1)).cast("int"), lit(31)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
        min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
      .orderBy("bucket")
  }

  /** T5-style span-corruption pair generation — the denoising-objective
    * preprocessing step: each document's words split into fixed 5-word
    * blocks, a deterministic md5 bucket masks ~¼ of them, and the doc
    * becomes an (input, target) pair — masked blocks replaced by
    * numbered sentinels in the input, emitted after their sentinels in
    * the target (the exact T5 target layout). Hash-driven masking means
    * the pair set is reproducible across runs/engines — the property an
    * ablation needs. Shape: one explode over block indices (strings
    * sliced AFTER the explode, codegen'd — the round-6 generator
    * discipline), a per-doc rank window over masked blocks only, and
    * one ordered group-concat back to doc grain; map-sized shuffles
    * keyed by doc_id throughout.
    */
  def qSpanCorrupt(s: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), col("words"), explode(expr(
        "sequence(0, cast(ceil(size(words) / 5.0) as int) - 1)")).as("blk"))
      .select(col("doc_id"), col("blk"),
        expr("array_join(slice(words, blk * 5 + 1, 5), ' ')").as("piece"))
      .withColumn("masked", expr(
        "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(blk AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4 = 0"))
    val w = Window.partitionBy("doc_id").orderBy("blk")
    val sent = blocks.withColumn("k",
      sum(when(col("masked"), 1).otherwise(0)).over(w))
    val rendered = sent.select(col("doc_id"), col("blk"), col("masked"),
      when(col("masked"), concat(lit("<extra_id_"), (col("k") - 1).cast("string"), lit(">")))
        .otherwise(col("piece")).as("in_piece"),
      when(col("masked"), concat(lit("<extra_id_"), (col("k") - 1).cast("string"),
        lit("> "), col("piece"))).as("tgt_piece"))
    rendered.groupBy("doc_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(blk, in_piece))), x -> x.in_piece), ' ')").as("input"),
        expr("array_join(transform(array_sort(collect_list(CASE WHEN tgt_piece IS NOT NULL THEN struct(blk, tgt_piece) END)), x -> x.tgt_piece), ' ')").as("target"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"))
      .orderBy("doc_id")
  }

  /** Join-key SKEW AUDIT — the telemetry that decides, before a 100 TB
    * join is launched, whether a key needs salting ([[graft.operators.Salt]])
    * or AQE's runtime skew split suffices: per-key row counts summarized
    * as exact max / p50 / p99 (percentile_disc — an actual element, so
    * integer-exact cross-engine) plus the max-to-mean skew ratio. One
    * hash agg per audited key (the same shuffle the real join would do,
    * at count-width), then a dimension-sized summary. The salt flag
    * trips when the hottest key is 10× the median — hot enough that one
    * task owns a meaningful fraction of the join.
    */
  def qSkewStats(s: SparkSession, dir: String): DataFrame = {
    def keyStats(df: DataFrame, key: String, tag: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_c"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast("long").as("p50_c"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast("long").as("p99_c"))
        .select(lit(tag).as("join_key"), col("n_keys"), col("n_rows"),
          col("max_c"), col("p50_c"), col("p99_c"))
    keyStats(Tables.events(s, dir), "user_id", "events.user_id")
      .unionByName(keyStats(Tables.lineitem(s, dir), "l_orderkey",
        "lineitem.l_orderkey"))
      .unionByName(keyStats(Tables.lineitem(s, dir), "l_partkey",
        "lineitem.l_partkey"))
      .withColumn("skew_ratio",
        col("max_c") * col("n_keys") / col("n_rows").cast("double"))
      .withColumn("salt_recommended", col("max_c") > lit(10L) * col("p50_c"))
      .orderBy("join_key")
  }

  /** Length-CURRICULUM sharding — ordering training data easy→hard and
    * cutting it into equal shard budgets (curriculum learning's data
    * side). The global order comes from [[graft.operators.Ordinal]]'s
    * range-partitioned ordinal — NEVER row_number over a global window
    * (single-partition collapse at scale); the shard id is then pure
    * arithmetic on the ordinal, and the output is the shard-level
    * schedule a loader consumes (doc counts, word-length range, token
    * budget per shard).
    */
  def qCurriculumShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw"))
    val ranked = graft.operators.Ordinal
      .withOrdinal(docs, Seq(col("nw").asc, col("doc_id").asc))
    val n = docs.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("shard", expr("(ord * 8) DIV __n").cast("int"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min(col("nw")).as("min_words"), max(col("nw")).as("max_words"),
        sum(col("nw")).as("shard_tokens"))
      .orderBy("shard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skew_stats" -> (qSkewStats(_, _)),
    "q_curriculum_shards" -> (qCurriculumShards(_, _)),
    "q_span_corrupt" -> (qSpanCorrupt(_, _)),
    "q_zorder" -> (qZorder(_, _)),
    "q_bucketed_join" -> (qBucketedJoin(_, _)),
    "q_partition_prune" -> (qPartitionPrune(_, _)),
    "q_seq_pack" -> (qSeqPack(_, _)),
    "q_pack_efficiency" -> (qPackEfficiency(_, _)),
    "q_shard_manifest" -> (qShardManifest(_, _)),
    "q_train_prep" -> (qTrainPrep(_, _)),
    "q_text_redact" -> (qTextRedact(_, _)))

  private val sqlZ = (0 until 16).map { i =>
    s"((((l_partkey & 65535) >> $i) & 1) << ${2 * i + 1}) + ((((l_suppkey & 65535) >> $i) & 1) << ${2 * i})"
  }.mkString(" + ")

  private def sqlKeyStats(tag: String, key: String, table: String): String =
    s"""SELECT '$tag' AS join_key, count(*) AS n_keys,
       |    CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_c,
       |    quantile_disc(c, 0.5) AS p50_c, quantile_disc(c, 0.99) AS p99_c
       |  FROM (SELECT $key, count(*) AS c FROM $table GROUP BY $key)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_skew_stats" ->
      s"""WITH s AS (
         |  ${sqlKeyStats("events.user_id", "user_id", "events")}
         |  UNION ALL
         |  ${sqlKeyStats("lineitem.l_orderkey", "l_orderkey", "lineitem")}
         |  UNION ALL
         |  ${sqlKeyStats("lineitem.l_partkey", "l_partkey", "lineitem")})
         |SELECT join_key, n_keys, n_rows, max_c, p50_c, p99_c,
         |  max_c * n_keys / CAST(n_rows AS DOUBLE) AS skew_ratio,
         |  max_c > 10 * p50_c AS salt_recommended
         |FROM s ORDER BY join_key""".stripMargin,
    "q_curriculum_shards" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS nw FROM documents),
        |r AS (SELECT doc_id, nw,
        |    row_number() OVER (ORDER BY nw, doc_id) - 1 AS ord,
        |    count(*) OVER () AS n FROM d)
        |SELECT CAST((ord * 8) // n AS INTEGER) AS shard,
        |  count(*) AS n_docs, min(nw) AS min_words, max(nw) AS max_words,
        |  CAST(sum(nw) AS BIGINT) AS shard_tokens
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    "q_span_corrupt" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, CAST(t.i AS INTEGER) AS blk,
        |    array_to_string(ws[t.i * 5 + 1 : t.i * 5 + 5], ' ') AS piece
        |  FROM d, LATERAL unnest(generate_series(0,
        |    CAST(ceil(len(ws) / 5.0) AS INTEGER) - 1)) AS t(i)),
        |m AS (SELECT doc_id, blk, piece,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)), 1, 15))::BIGINT % 4 = 0 AS masked
        |  FROM b),
        |k AS (SELECT doc_id, blk, piece, masked,
        |    sum(CASE WHEN masked THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY blk) AS k
        |  FROM m),
        |r AS (SELECT doc_id, blk, masked,
        |    CASE WHEN masked THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '>'
        |      ELSE piece END AS in_piece,
        |    CASE WHEN masked THEN '<extra_id_' || CAST(k - 1 AS VARCHAR) || '> ' || piece
        |      END AS tgt_piece
        |  FROM k)
        |SELECT doc_id,
        |  string_agg(in_piece, ' ' ORDER BY blk) AS input,
        |  COALESCE(string_agg(tgt_piece, ' ' ORDER BY blk), '') AS target,
        |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_zorder" ->
      s"""WITH z AS (SELECT l_partkey & 65535 AS pk, l_suppkey & 65535 AS sk,
         |    CAST($sqlZ AS BIGINT) AS z
         |  FROM lineitem),
         |m AS (SELECT max(z) AS mz FROM z),
         |b AS (SELECT pk, sk,
         |    least(CAST(floor(z * 32 / (m.mz + 1)) AS INTEGER), 31) AS bucket
         |  FROM z, m)
         |SELECT bucket, count(*) AS n,
         |  min(pk) AS min_pk, max(pk) AS max_pk,
         |  min(sk) AS min_sk, max(sk) AS max_sk
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_bucketed_join" ->
      s"""SELECT o_orderpriority,
         |  count(*) AS n_items,
         |  ${Q.sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q_partition_prune" ->
      s"""SELECT user_id, count(*) AS n_events,
         |  ${Q.sqlDsum("value")} AS total
         |FROM events
         |WHERE event_type = 'purchase'
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin,
    "q_seq_pack" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT source,
         |  CAST(floor((cum - n_tok) / ${SeqTokens}.0) AS BIGINT) AS seq,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  min(doc_id) AS first_doc
         |FROM c
         |GROUP BY source, seq
         |ORDER BY source, seq""".stripMargin,
    "q_pack_efficiency" ->
      s"""WITH t AS (
         |  SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t),
         |g AS (
         |  SELECT source,
         |    count(DISTINCT CAST(floor((cum - n_tok) / ${SeqTokens}.0) AS BIGINT)) AS n_seqs,
         |    count(*) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS tok_total
         |  FROM c GROUP BY source)
         |SELECT source, n_seqs, n_docs, tok_total,
         |  CAST(n_seqs * $SeqTokens AS BIGINT) AS capacity,
         |  CAST(tok_total AS DOUBLE) / (n_seqs * $SeqTokens) AS fill_frac
         |FROM g ORDER BY source""".stripMargin,
    // Replays pack → global sequence ordinal → shard grouping → manifest
    // from `documents` alone; the Spark leg computes it from the written
    // shard files, so a match certifies the sink round-trip. The ordinal
    // replay is row_number over (source, seq) — the relational spec the
    // distributed Ordinal machinery must equal.
    "q_shard_manifest" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT source, doc_id, text, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t),
         |p AS (
         |  SELECT source, doc_id, text, n_tok,
         |    CAST(floor((cum - n_tok) / ${SeqTokens}.0) AS BIGINT) AS seq
         |  FROM c),
         |sq AS (SELECT DISTINCT source, seq FROM p),
         |o AS (SELECT source, seq,
         |    row_number() OVER (ORDER BY source, seq) - 1 AS seq_ord FROM sq),
         |a AS (
         |  SELECT p.source, p.doc_id, p.text, p.n_tok, p.seq,
         |    CAST(o.seq_ord // $SeqsPerShard AS BIGINT) AS shard_id
         |  FROM p JOIN o ON p.source = o.source AND p.seq = o.seq),
         |m AS (
         |  SELECT shard_id, source,
         |    count(*) AS n_docs,
         |    count(DISTINCT seq) AS n_seqs,
         |    CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |    ${Q.sqlChecksum("text")} AS checksum
         |  FROM a GROUP BY shard_id, source),
         |g AS (
         |  SELECT shard_id, count(*) AS shard_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS shard_toks
         |  FROM a GROUP BY shard_id)
         |SELECT m.shard_id, m.source, n_docs, n_seqs, tok_total, checksum,
         |  shard_docs, shard_toks
         |FROM m JOIN g ON m.shard_id = g.shard_id
         |ORDER BY m.shard_id, m.source""".stripMargin,
    "q_train_prep" ->
      s"""${Fingerprints.sqlCorpusCleanCtes},
         |cleaned AS (
         |  SELECT doc_id FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM removed)),
         |bench AS (SELECT list(DISTINCT h) AS bl FROM (
         |  SELECT unnest(dh) AS h FROM dhs WHERE doc_id < 20)),
         |hits AS (
         |  SELECT d.doc_id,
         |    len(list_filter(d.dh, x -> list_contains(b.bl, x))) AS n_hits
         |  FROM dhs d, bench b
         |  WHERE d.doc_id >= 20),
         |contam AS (SELECT doc_id FROM hits
         |  WHERE n_hits >= ${Fingerprints.decontamThreshold}),
         |train AS (
         |  SELECT doc_id FROM cleaned
         |  WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |tt AS (
         |  SELECT d.source, d.doc_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents d JOIN train t ON t.doc_id = d.doc_id),
         |cm AS (
         |  SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM tt)
         |SELECT source,
         |  CAST(floor((cum - n_tok) / ${SeqTokens}.0) AS BIGINT) AS seq,
         |  count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS tok_total,
         |  min(doc_id) AS first_doc
         |FROM cm
         |GROUP BY source, seq
         |ORDER BY source, seq""".stripMargin,
    "q_text_redact" -> {
      val vals = RedactRows
        .map { case (id, t) => s"($id, '${t.replace("'", "''")}')" }
        .mkString(",\n  ")
      s"""SELECT CAST(id AS BIGINT) AS id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '$EmailRe', '[EMAIL]', 'g'),
         |      '$Ipv4Re', '[IP]', 'g'),
         |    '$PhoneRe', '[PHONE]', 'g') AS clean
         |FROM (VALUES
         |  $vals) t(id, text)
         |ORDER BY id""".stripMargin
    })
}
