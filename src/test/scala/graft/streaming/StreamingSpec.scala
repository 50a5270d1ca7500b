package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming specs driven by MemoryStream — tumbling window
  * aggregation and stateful sessionization.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling counts aggregate by event-time hour under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        StreamOps.Event(1, 1, "click", 1.0, ts("2024-01-01 10:05:00")),
        StreamOps.Event(2, 1, "click", 2.0, ts("2024-01-01 10:55:00")),
        StreamOps.Event(3, 2, "view", 5.0, ts("2024-01-01 11:05:00")))
      q.processAllAvailable()
      val rows = spark.table("tumbling_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(_.toString).toSeq
      assert(rows == Seq(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-static join enriches streaming events with a dimension") {
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[StreamOps.Event]
    val q = input.toDF().join(dim, Seq("user_id"), "left")
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamOps.Event(1, 1, "click", 1.0, ts("2024-01-01 10:00:00")),
        StreamOps.Event(2, 3, "view", 2.0, ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => (r.getLong(0), r.getAs[String]("tier"))).sortBy(_._1).toSeq
      assert(rows == Seq((1L, "gold"), (2L, null)))
    } finally q.stop()
  }

  test("file-source ingest decontamination equals batch q_decontaminate (availableNow)") {
    import org.apache.spark.sql.functions.{col, explode}
    val sf = "/root/testdata/sf0.001"
    val docsPath = s"$sf/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath)
    // the static eval-set hashes come from the BATCH posting artifact
    // (exactly what the driver query broadcasts) — NOT from
    // StreamOps.shingleHashes: deriving both sides from the stream
    // operator made the test self-consistent under any stream-side hash
    // drift (round 10's mod-2³¹ regression sailed through); against the
    // batch set, a drifted stream hash empties every intersection and
    // the batch-drops assertion below trips. Tiny by contract, so
    // collecting mirrors the broadcast a cluster does.
    val bench = graft.queries.Fingerprints.postings(spark, sf)
      .filter(col("doc_id") < 20).select("h").distinct()
      .collect().map(_.getLong(0)).toSeq
    // the file source wants a directory to watch — stage the corpus
    // file into scratch (read-only testdata stays untouched)
    val watchDir = tmpDir("decon_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(docsPath),
      java.nio.file.Paths.get(watchDir, "documents.parquet"))
    val stream = spark.readStream.schema(batchDocs.schema).parquet(watchDir)
    // DecontamT = 5, the batch rule (Fingerprints.qDecontaminate)
    val q = StreamOps.decontaminateByOverlap(
        stream.filter(col("doc_id") >= 20), bench, 5)
      .select("doc_id", "lang", "source")
      .writeStream.format("memory").queryName("decon_equiv")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "availableNow drain timed out")
      val got = spark.table("decon_equiv").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      val want = graft.queries.Fingerprints.qDecontaminate(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(got == want, s"stream kept ${got.size} docs, batch ${want.size}")
      // the equality must DISCRIMINATE: if the batch rule drops nothing
      // at this scale, stream≡batch holds vacuously for any broken hash
      // (exactly how round 10's mod-2³¹ drift slipped past this spec —
      // the gate admitted everything on both sides)
      val arriving = batchDocs.filter(col("doc_id") >= 20).count()
      assert(want.size < arriving,
        s"vacuous fixture: batch decontamination dropped 0 of $arriving docs")
    } finally q.stop()
  }

  test("near-dup ingest gate: stream bands ≡ BATCH band table; collisions match, stateless") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val docsPath = s"$sf/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath)
    // THE invariant (Fingerprints object scaladoc): the stream's in-row
    // signature path must be bit-identical to the batch aggregation over
    // the deduped posting index — compare StreamOps.minhashBands against
    // Fingerprints.bandTable over the whole corpus, not the stream
    // operator against itself (round 10's self-comparison stayed green
    // while both sides drifted from batch together).
    def bandKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[Long]("v1"), r.getAs[Long]("v2"))
    val streamBands = StreamOps.minhashBands(
      batchDocs.select("doc_id", "text")).collect().map(bandKey).toSet
    val batchBands = graft.queries.Fingerprints.bandTableOf(
      spark, batchDocs.select("doc_id", "text")).collect().map(bandKey).toSet
    assert(streamBands == batchBands,
      s"stream in-row bands diverge from the batch band table: " +
        s"${(streamBands diff batchBands).size} stream-only, " +
        s"${(batchBands diff streamBands).size} batch-only")
    val b = math.floor(batchDocs.count() * 0.8).toLong
    // standing index = BATCH band table over the first 80% (the artifact
    // the batch dedup pipeline maintains); arriving batch = last 20%
    val standing = graft.queries.Fingerprints.bandTableOf(
      spark, batchDocs.filter(col("doc_id") < b).select("doc_id", "text"))
    val watchDir = tmpDir("neardup_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(docsPath),
      java.nio.file.Paths.get(watchDir, "documents.parquet"))
    val stream = spark.readStream.schema(batchDocs.schema).parquet(watchDir)
    val q = StreamOps.nearDupIngestGate(
        stream.filter(col("doc_id") >= b), standing)
      .writeStream.format("memory").queryName("neardup_gate")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "availableNow drain timed out")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Int]("band"), r.getAs[Long]("v1"), r.getAs[Long]("v2"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("standing_doc"))
      val got = spark.table("neardup_gate").collect().map(key).toSet
      // batch replay of the identical plan over the same split
      val want = StreamOps.nearDupIngestGate(
        batchDocs.filter(col("doc_id") >= b), standing).collect().map(key).toSet
      assert(got == want, s"stream ${got.size} collisions, batch ${want.size}")
      // the gate must be STATELESS: no stateful operators registered
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty,
        s"ingest gate must carry no streaming state: ${st.mkString(",")}")
    } finally q.stop()
  }

  test("streaming histogram + batch finisher reproduces the batch KS drift statistic") {
    import org.apache.spark.sql.functions.{abs, col, lit, max, sum, when, round}
    import org.apache.spark.sql.expressions.Window
    val sf = "/root/testdata/sf0.001"
    val docsPath = s"$sf/documents.parquet"
    val batchDocs = spark.read.parquet(docsPath)
    val watchDir = tmpDir("ks_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(docsPath),
      java.nio.file.Paths.get(watchDir, "documents.parquet"))
    // the stateful half runs IN the stream: a value histogram is a
    // complete-mode aggregate with state = distinct values (bounded by
    // the value range, not the stream length) — the standing drift
    // monitor a pipeline keeps per source pair
    val stream = spark.readStream.schema(batchDocs.schema).parquet(watchDir)
    val q = stream.filter(col("source").isin("src0", "src1"))
      .groupBy("n_chars")
      .agg(sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
      .writeStream.format("memory").queryName("ks_hist")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "availableNow drain timed out")
      // the finisher (cumsum + max over HISTOGRAM rows) is a batch
      // query over the standing sink table — the streaming analog of
      // q_ks_drift's presentation half
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = spark.table("ks_hist")
        .withColumn("cuma", sum(col("ca")).over(w))
        .withColumn("cumb", sum(col("cb")).over(w))
        .withColumn("na", sum(col("ca")).over(Window.partitionBy()))
        .withColumn("nb", sum(col("cb")).over(Window.partitionBy()))
        .groupBy("na", "nb")
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("ks_num"))
        .select(col("na").as("n_a"), col("nb").as("n_b"), col("ks_num"),
          round(col("ks_num").cast("double") / (col("na") * col("nb")), 6).as("ks"))
        .collect().map(_.toSeq).toSeq
      val want = graft.queries.CorpusStats.qKsDrift(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"stream-fed KS $got != batch $want")
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with in-window views only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamOps.Event]
    val views = MemoryStream[StreamOps.Event]
    val q = StreamOps.intervalJoin(clicks.toDF(), views.toDF())
      .writeStream.format("memory").queryName("interval_join_test")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        StreamOps.Event(101, 1, "view", 5.0, ts("2024-01-01 10:10:00")), // in window
        StreamOps.Event(102, 1, "view", 6.0, ts("2024-01-01 09:30:00")), // too old
        StreamOps.Event(103, 2, "view", 7.0, ts("2024-01-01 10:20:00"))) // wrong user
      clicks.addData(
        StreamOps.Event(10, 1, "click", 1.0, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val rows = spark.table("interval_join_test").collect()
        .map(r => (r.getAs[Long]("click_id"),
          r.getAs[Timestamp]("view_ts").toString, r.getAs[Double]("view_value")))
        .toSeq
      assert(rows == Seq((10L, "2024-01-01 10:10:00.0", 5.0)))
    } finally q.stop()
  }

  test("streaming tumbling agg replays the batch result on the events corpus") {
    // Stream/batch parity on REAL data: the whole sf0.001 events table
    // through MemoryStream must produce the same windows, counts, and
    // sums as the equivalent batch plan (same engine, so float sums
    // compare within an associativity-order tolerance).
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val batch = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "ts")
    val evs = batch.as[StreamOps.Event].collect().toSeq
    assert(evs.nonEmpty)
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("parity_test")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(evs)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (r.getTimestamp(0), r.getString(1))
      val streamed = spark.table("parity_test").collect()
        .map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
      val expected = batch
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
        .select(col("window.start"), col("event_type"), col("n"), col("s"))
        .collect().map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed.keySet == expected.keySet)
      streamed.foreach { case (k, (n, s0)) =>
        assert(n == expected(k)._1, s"count at $k")
        assert(math.abs(s0 - expected(k)._2) < 1e-6, s"sum at $k")
      }
    } finally q.stop()
  }

  test("sessionizeClosed: cross-batch state continuation, per-user ordinals, exact sums") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 10L * 60 * 1000000 // 10 min
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionizeClosed(input.toDS(), gapUs)
      .writeStream.format("memory").queryName("closed_sess_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 7 opens a session (2 events); user 8 opens one
      input.addData(
        StreamOps.Event(1, 7, "click", 1.25, ts("2024-01-01 10:00:00")),
        StreamOps.Event(2, 7, "click", 2.5, ts("2024-01-01 10:05:00")),
        StreamOps.Event(3, 8, "view", 9.0, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("closed_sess_test").count() == 0) // nothing closed yet
      // batch 2: user 7's gap-exceeding event CLOSES session 1 (state
      // carried across batches); user 8 continues (still open)
      input.addData(
        StreamOps.Event(4, 7, "click", 4.0, ts("2024-01-01 10:30:00")),
        StreamOps.Event(5, 8, "view", 1.0, ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val rows = spark.table("closed_sess_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3).toString, r.getTimestamp(4).toString, r.getDouble(5)))
        .toSeq
      assert(rows == Seq((7L, 1L, 2L,
        "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 3.75)))
      // batch 3: another close for user 7 → ordinal advances to 2
      input.addData(StreamOps.Event(6, 7, "click", 7.0, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val ids = spark.table("closed_sess_test").collect()
        .filter(_.getLong(0) == 7L).map(r => (r.getLong(1), r.getDouble(5))).sorted.toSeq
      assert(ids == Seq((1L, 3.75), (2L, 4.0)))
      // user 8's single (still-open) session never emitted
      assert(!spark.table("closed_sess_test").collect().exists(_.getLong(0) == 8L))
    } finally q.stop()
  }

  test("sessionizeFull: event-time timeout flushes idle users' final sessions") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 10L * 60 * 1000000 // 10 min
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.sessionizeFull(input.toDS(), gapUs)
      .writeStream.format("memory").queryName("full_sess_test")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: two open sessions; nothing flushes (watermark behind)
      input.addData(
        StreamOps.Event(1, 7, "click", 1.25, ts("2024-01-01 10:00:00")),
        StreamOps.Event(2, 7, "click", 2.5, ts("2024-01-01 10:05:00")),
        StreamOps.Event(3, 8, "view", 9.0, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      assert(spark.table("full_sess_test").count() == 0)
      // heartbeat batches: advance the watermark past both users'
      // lastTs + gap — their FINAL sessions must flush via the timeout
      // path (no later event ever closes them). The second heartbeat
      // closes the first heartbeat's own gap-exceeding session through
      // the ordinary event fold (expected); the 13:00 heartbeat's
      // session stays open forever (the watermark can't pass it).
      input.addData(StreamOps.Event(90, 99, "hb", 0.0, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      input.addData(StreamOps.Event(91, 99, "hb", 0.0, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val rows = spark.table("full_sess_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(rows == Seq((7L, 1L, 2L, 3.75), (8L, 1L, 1L, 9.0),
          (99L, 1L, 1L, 0.0)),
        s"timeout flush emitted $rows")
    } finally q.stop()
  }

  test("full-session ledger drain equals batch sessionization on the corpus") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.StreamingQ.qStreamSessionizeFull(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.queries.Windows.qSessionize(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"full ledger ${got.size} rows vs batch ${want.size}")
  }

  test("late-drop: beyond-watermark row excluded; merging its batch admits it (negative control)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // the checked query: staged one-file-per-batch → planted row dropped,
    // ledger ≡ the batch tumbling aggregate over events alone
    val got = graft.queries.StreamingQ.qStreamLateDrop(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("sum_value"))
      .orderBy("bucket", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"late-drop ledger ${got.size} rows vs batch ${want.size}")
    // NEGATIVE CONTROL: two files per batch puts the planted row in the
    // very next batch after the watermark-advancing one — inside the
    // late filter's one-batch leniency — so it IS admitted and exactly
    // one (bucket, event_type) row gains one event. Removing the batch
    // split flips the result: the drop above is the watermark working,
    // not the fixture being inert.
    val ctl = StreamDrain.drainedStaged(spark, sf, "stream_late_drop_ctl",
        graft.queries.StreamingQ.lateDropStages(spark, sf),
        perTrigger = 2, mode = "append")(st =>
        StreamOps.tumblingCounts(st, watermark = "0 seconds"))
      .filter(col("event_type") =!= "hb")
      .orderBy("bucket", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(ctl.size == want.size, "control ledger changed shape")
    val diff = ctl.zip(want).filter { case (a, b) => a != b }
    assert(diff.size == 1, s"control must differ in exactly one row, got ${diff.size}")
    val cN = diff.head._1.apply(2).asInstanceOf[Long]
    val wN = diff.head._2.apply(2).asInstanceOf[Long]
    assert(cN == wN + 1L,
      "the admitted late row must add exactly one event to its window")
  }

  test("staged drain fails naming the stage that wrote more than one part file") {
    // one row per file: the second stage's two rows land as two part
    // files even after its coalesce(1)
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try {
      val stages = Seq(s.range(1).toDF("x"), s.range(2).toDF("x"))
      val e = intercept[IllegalArgumentException](
        StreamDrain.drainedStaged(s, "spec_staged", "spec_two_parts", stages,
          perTrigger = 1, mode = "append")(identity))
      assert(e.getMessage.contains(
        "staged drain of spec_two_parts: stage 1 wrote 2 part files"), e.getMessage)
    } finally graft.Caches.clear(s)
  }

  test("upsert merge is batching-independent and equals the one-window latest-row") {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_type", "value", "ts", "event_id")
    val empty = ev.filter(col("event_id") < 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // merge(merge(∅, A), B) ≡ merge(∅, A ∪ B) ≡ merge(merge(∅, B), A)
    val a = ev.filter(col("event_id") % 2 === 0)
    val b = ev.filter(col("event_id") % 2 =!= 0)
    val oneShot = rows(StreamOps.upsertMerge(empty, ev))
    assert(rows(StreamOps.upsertMerge(StreamOps.upsertMerge(empty, a), b)) == oneShot)
    assert(rows(StreamOps.upsertMerge(StreamOps.upsertMerge(empty, b), a)) == oneShot)
    // and the state IS each user's latest row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = rows(ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .select("user_id", "event_type", "value", "ts", "event_id"))
    assert(oneShot == want)
  }

  test("file-sink drain: read-back honors the commit log; orphan files stay invisible") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = "/root/testdata/sf0.001"
    val sunk = graft.streaming.StreamDrain.drainedFiles(
      spark, dir, "spec_file_sink", "documents")(st => st)
    val n = sunk.count()
    assert(n == spark.read.parquet(s"$dir/documents.parquet").count())
    // plant an orphan part file (as if left by an aborted batch): a
    // fresh batch read of the sink must NOT see it — _spark_metadata
    // is the source of truth, that is the exactly-once contract
    val dataDir = Paths.get(new java.net.URI(sunk.inputFiles.head)).getParent
    val aPart = Files.list(dataDir).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(aPart, dataDir.resolve("part-99999-orphan.snappy.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val reread = spark.read.parquet(dataDir.toString).count()
    assert(reread == n, "orphan (uncommitted) file leaked into the batch read")
  }

  test("concurrent prewarm: racing drains memoize to one result") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sf = "/root/testdata/sf0.001"
    val counts = Await.result(Future.sequence(
      (1 to 4).map(_ => Future(
        graft.queries.StreamingQ.qStreamTumbling(spark, sf).count()))), 5.minutes)
    assert(counts.distinct.size == 1, s"racing drains disagreed: $counts")
    assert(counts.head > 0)
  }

  test("sink compaction: bounded file count, rows and content preserved") {
    val sf = "/root/testdata/sf0.001"
    val manifest = graft.queries.StreamingQ.qSinkCompaction(spark, sf).collect()
    val nDocs = manifest.map(_.getLong(1)).sum
    assert(nDocs == spark.read.parquet(s"$sf/documents.parquet").count())
    // the memoized compacted frame (same key the query built) exposes
    // the rewritten files: must be ≤ the 4 range buckets requested,
    // versus the streaming sink's one-file-per-batch sprawl
    val compacted = graft.Caches.memoSide(spark, sf, "sink_compacted") {
      fail("compacted frame should already be memoized"): org.apache.spark.sql.DataFrame
    }
    assert(compacted.inputFiles.length <= 4,
      s"expected <=4 compacted files, got ${compacted.inputFiles.length}")
    assert(compacted.count() == nDocs)
  }

  test("sliding counts place each event in two windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val q = StreamOps.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        StreamOps.Event(1, 1, "click", 1.0, ts("2024-01-01 10:40:00")),
        StreamOps.Event(2, 2, "view", 0.1, ts("2024-01-01 10:50:00")),
        StreamOps.Event(3, 1, "view", 0.2, ts("2024-01-01 11:10:00")))
      q.processAllAvailable()
      val rows = spark.table("sliding_test").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      // decimal-exact sums: 0.1 + 0.2 is 0.3 here, not 0.30000000000000004
      assert(rows == Seq(
        ("2024-01-01 10:00:00.0", 2L, 1.1),
        ("2024-01-01 10:30:00.0", 3L, 1.3),
        ("2024-01-01 11:00:00.0", 1L, 0.2)))
    } finally q.stop()
  }
}
