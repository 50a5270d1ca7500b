package graft.queries

import graft.Tables
import graft.streaming.{StreamDrain, StreamOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checked STREAMING queries — the windowed aggregates from
  * [[graft.streaming.StreamOps]] run as real Structured Streaming jobs
  * (file source → complete-mode aggregate → availableNow drain into a
  * memory sink, [[graft.streaming.StreamDrain]]) and answer the SAME
  * oracle SQL as their batch twins in [[Windows]]. Batch↔stream
  * equivalence is thereby a hash-checked claim on every driver round,
  * not only a spec assertion (the q_ks_drift_stream pattern,
  * generalized). Each drained table is a once-per-(session, corpus)
  * artifact: in production these monitors run continuously and
  * consumers read their sinks.
  */
object StreamingQ extends QueryModule {

  /** Streaming tumbling hourly counts ≡ [[Windows.qWindowTumbling]] —
    * the [[StreamOps.tumblingCounts]] operator verbatim (decimal-exact
    * sums; watermark inert under the complete-mode drain).
    */
  def qStreamTumbling(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_tumbling", "events")(st =>
        StreamOps.tumblingCounts(Tables.eventsTs(st)))
      .orderBy("bucket", "event_type")

  /** Streaming sliding 1h/30m windows ≡ [[Windows.qWindowSliding]] —
    * the [[StreamOps.slidingCounts]] operator verbatim (decimal-exact
    * sums; watermark inert under the complete-mode drain).
    */
  def qStreamSliding(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_sliding", "events")(st =>
        StreamOps.slidingCounts(Tables.eventsTs(st)))
      .orderBy("bucket")

  /** Streaming exact-dedup ingest gate, driver-checked: streaming
    * `dropDuplicates` in append mode emits each key's FIRST occurrence
    * the moment it arrives (nothing watermark-held), so the drained
    * table is exactly the distinct key set — the admission ledger the
    * batch dedup family maintains, as an infinite-stream operator.
    * State is bounded by the KEY space (distinct users), the streaming
    * dedup contract. Keys only (which row "first" carries is a race
    * across file-source partitions; the distinct SET is deterministic).
    */
  def qStreamDedupKeys(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_dedup_keys", "events",
        mode = "append")(
        _.select("user_id").dropDuplicates("user_id"))
      .orderBy("user_id")

  /** Streaming benchmark decontamination, driver-checked against the
    * SAME oracle as the batch leg (`Fingerprints.sqlDecontaminate`):
    * arriving documents are dropped when ≥ DecontamT of their distinct
    * shingle hashes appear in the eval set — the
    * [[StreamOps.decontaminateByOverlap]] operator verbatim (in-row
    * `array_intersect` against the broadcast-sized literal hash set, NO
    * streaming state, no shuffle — the contract that runs on an
    * infinite ingest stream). The eval hash set derives from the
    * memoized posting index inside the one-time drain build; its size
    * is bounded by the eval suite, never the corpus.
    */
  def qStreamDecontaminate(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_decontam", "documents",
        mode = "append") { st =>
      val bench = Fingerprints.postings(s, dir)
        .filter(col("doc_id") < 20).select("h").distinct()
        .collect().map(_.getLong(0)).toSeq
      StreamOps.decontaminateByOverlap(
          st.filter(col("doc_id") >= 20), bench, Fingerprints.DecontamT)
        .select("doc_id", "lang", "source")
    }.orderBy("doc_id")

  /** Streaming closed-session ledger, driver-checked: the
    * `flatMapGroupsWithState` custom-state sessionizer
    * ([[StreamOps.sessionizeClosed]] — the KeyValueGroupedDataset
    * surface the brief calls for) drained over the events table. Its
    * deterministic contract — a session emits exactly when a later
    * event closes it, each user's final session stays open — makes the
    * oracle the batch sessionization MINUS each user's last session,
    * with no watermark/timeout timing in the claim. Same gap, tie-break
    * and decimal-sum discipline as [[Windows.qSessionize]].
    */
  def qStreamSessionize(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_sessionize", "events",
        mode = "append") { st =>
      import s.implicits._
      StreamOps.sessionizeClosed(
        Tables.eventsTs(st).select("event_id", "user_id", "event_type", "value", "ts")
          .as[StreamOps.Event],
        Windows.SessionGapUs).toDF()
    }.orderBy("user_id", "session_id")

  /** One far-future heartbeat row (`user_id = -1`, ts = corpus max +
    * gap + 1 h) in the SOURCE schema — staged as a trailing file so the
    * event-time-timeout ledger's final watermark passes every real
    * user's `lastTs + gap` and all final sessions flush ([[StreamOps
    * .sessionizeFull]] scaladoc). The heartbeat user's own state can
    * never flush and is filtered from the result.
    */
  private def sessionSentinel(s: SparkSession, dir: String): DataFrame = {
    Tables.shiftEventsTs(Tables.load(s, dir, "events"),
        Windows.SessionGapUs / 1000000L + 3600L)
      .orderBy(col("ts").desc).limit(1)
      .withColumn("event_id", lit(-1L))
      .withColumn("user_id", lit(-1L))
  }

  /** Streaming FULL-session ledger, driver-checked against the batch
    * [[Windows.qSessionize]] oracle VERBATIM: the event-time-timeout
    * sessionizer ([[StreamOps.sessionizeFull]]) emits sessions closed
    * by later events as they close AND flushes idle users' final
    * sessions once the watermark passes their gap horizon — the
    * production flush [[qStreamSessionize]]'s closed-only ledger
    * deliberately omits. Deterministic under the availableNow drain:
    * the staged heartbeat row ([[sessionSentinel]]) pins the final
    * watermark above every pending timeout, so the drained table is
    * the complete batch sessionization, hash-exact.
    */
  def qStreamSessionizeFull(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_sessionize_full", "events",
        mode = "append", extra = Some(sessionSentinel(s, dir))) { st =>
      import s.implicits._
      StreamOps.sessionizeFull(
        Tables.eventsTs(st).select("event_id", "user_id", "event_type", "value", "ts")
          .as[StreamOps.Event],
        Windows.SessionGapUs).toDF()
    }.filter(col("user_id") >= 0).orderBy("user_id", "session_id")

  /** Stream-STREAM interval join, driver-checked: clicks pair with the
    * same user's views inside [click − 30 min, click] —
    * [[StreamOps.intervalJoin]] verbatim over two filtered branches of
    * the landing stream (the two-stream shape; a self-join is how one
    * topic's event types join in production). The interval bound +
    * watermarks make the join STATE finite (each side buffers only rows
    * younger than watermark + maxAge — the contract that runs on an
    * infinite stream); inner matches emit the moment both rows exist,
    * so the availableNow drain yields exactly the batch theta join and
    * the oracle replays it from `events` alone.
    */
  def qStreamIntervalJoin(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_interval_join", "events",
        mode = "append") { st =>
      val e = Tables.eventsTs(st)
      StreamOps.intervalJoin(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "view"))
        .select("click_id", "user_id", "click_ts", "click_value",
          "view_ts", "view_value")
    }.orderBy("click_id", "view_ts", "view_value")

  /** Streaming INGEST-SINK round trip, driver-checked: arriving
    * documents land in an exactly-once parquet sink
    * ([[StreamDrain.drainedFiles]] — checkpoint WAL + `_spark_metadata`
    * commit log, the production landing→corpus ingest endpoint), and
    * the per-source manifest (doc count, char total, order-independent
    * md5 checksum — the [[Pipelines.qShardManifest]] discipline) is
    * computed FROM THE SINK READ BACK THROUGH ITS COMMIT LOG while the
    * oracle recomputes it from `documents` alone. A green row
    * certifies exactly-once delivery end to end: any dropped,
    * duplicated, or mangled row — including files from uncommitted
    * batches becoming visible — breaks a count or the checksum.
    */
  def qStreamShardSink(s: SparkSession, dir: String): DataFrame =
    sourceManifest(shardSink(s, dir))

  /** The per-source manifest of a documents frame: doc count, char
    * total and order-independent md5 checksum.
    */
  private def sourceManifest(docs: DataFrame): DataFrame =
    docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        Q.checksum("text").as("checksum"))
      .orderBy("source")

  /** `documents` drained unchanged through the exactly-once parquet
    * sink — read by [[qStreamShardSink]] and [[qSinkCompaction]].
    */
  private def shardSink(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drainedFiles(s, dir, "stream_shard_sink", "documents")(st => st)

  /** Streaming NEAR-DUP ingest gate, driver-checked: each arriving
    * document (the 10% "today's crawl" slice, doc_id % 10 = 7) is
    * routed by LSH band collision against the STANDING band index of
    * the other 90% — [[StreamOps.nearDupIngestGate]] verbatim: in-row
    * signatures + a stream-static equi-join on (band, v1, v2), NO
    * streaming state, memory bounded by the standing index however long
    * the stream runs. The standing side is the BATCH band table
    * ([[Fingerprints.bandTableOf]] — the materialized artifact the
    * batch dedup maintains), so this one query crosses the batch and
    * stream signature paths; with the oracle recomputing both sides
    * from `documents` alone, a green row certifies the in-row streaming
    * signatures are bit-identical to the batch aggregation.
    */
  def qStreamNeardupGate(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drained(s, dir, "stream_neardup_gate", "documents",
        mode = "append") { st =>
      val standing = Fingerprints.bandTableOf(s,
        Tables.documents(s, dir)
          .filter(col("doc_id") % 10 =!= 7).select("doc_id", "text"))
      StreamOps.nearDupIngestGate(
          st.filter(col("doc_id") % 10 === 7).select("doc_id", "text"),
          standing)
        .select(col("doc_id"), col("band"), col("standing_doc"))
    }.distinct().orderBy("doc_id", "band", "standing_doc")

  /** STREAMING HyperLogLog, driver-checked against the batch sketch's
    * oracle verbatim: the register build ([[GroupBys.hllRegisters]] —
    * one groupBy-max) runs as a complete-mode streaming aggregate, so
    * the standing state is ≤ event_types · 2⁸ register rows REGARDLESS
    * of how many users or events the stream ever carries — the
    * bounded-state answer to "distinct users per type, forever" that an
    * exact streaming distinct (state ∝ users) cannot give. The
    * estimator finisher runs batch-side over the drained register
    * table, exactly as a consumer reads a continuously-maintained
    * sketch sink.
    */
  def qStreamHll(s: SparkSession, dir: String): DataFrame = {
    val regs = StreamDrain.drained(s, dir, "stream_hll", "events")(st =>
      GroupBys.hllRegisters(st.select("event_type", "user_id")))
    GroupBys.hllFinish(s, regs,
      Tables.events(s, dir).select("event_type", "user_id"))
  }

  /** The late-drop fixture, one file per entry: [A = the whole events
    * table plus a far-future heartbeat (max ts + 2 h, the watermark
    * driver), spacer = one more heartbeat a minute later, late = ONE
    * planted too-late row (a clone of the corpus's earliest event under
    * a fresh event_id), tail = a final heartbeat (+3 h)]. The spacer
    * batch exists because Spark's late-event filter deliberately uses
    * the PREVIOUS batch's watermark (`watermarkForLateEvents` — lenient
    * by one batch so replay is deterministic), while eviction uses the
    * current one: a row landing in the very next batch after the
    * watermark-advancing one is still admitted; the batch after that is
    * where "beyond the watermark" is enforceable. Staged as separate
    * files so the batch boundaries — the only places a watermark
    * advances — are part of the fixture.
    */
  private[graft] def lateDropStages(s: SparkSession, dir: String): Seq[DataFrame] = {
    val ev = Tables.events(s, dir)
      .select("event_id", "user_id", "event_type", "value", "ts")
    def hb(seconds: Long, id: Long) =
      ev.orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select(lit(id).as("event_id"), lit(-1L).as("user_id"),
          lit("hb").as("event_type"), lit(0.0).as("value"),
          (col("ts") + expr(s"INTERVAL $seconds seconds")).as("ts"))
    val late = ev.orderBy(col("ts").asc, col("event_id").asc).limit(1)
      .select(lit(-2L).as("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    Seq(ev.unionByName(hb(7200L, -3L)), hb(7260L, -4L), late, hb(10800L, -5L))
  }

  /** Watermark LATE-DROP negative control, driver-checked: the tumbling
    * ledger runs in APPEND mode with a 0-second watermark over the
    * staged fixture ([[lateDropStages]], one file per micro-batch), so
    * by the planted row's batch BOTH the eviction watermark and the
    * one-batch-lagged late-event watermark sit at the heartbeat (max ts
    * + 2 h) and the planted row — event time at the corpus MINIMUM,
    * i.e. arbitrarily far beyond the watermark — is deterministically
    * EXCLUDED: its window's state was already finalized and freed, the
    * bounded-state guarantee that lets the ledger run forever. The
    * drained table therefore equals the batch tumbling aggregate over
    * `events` alone (the planted row never lands; heartbeats filter
    * out), which is exactly what the oracle recomputes. A spec proves
    * the negative control is live: delivering A∪B in ONE batch (no
    * watermark advance in between) admits the planted row and flips the
    * result.
    */
  def qStreamLateDrop(s: SparkSession, dir: String): DataFrame =
    StreamDrain.drainedStaged(s, dir, "stream_late_drop",
        lateDropStages(s, dir), perTrigger = 1, mode = "append")(st =>
        StreamOps.tumblingCounts(st, watermark = "0 seconds"))
      .filter(col("event_type") =!= "hb")
      .orderBy("bucket", "event_type")

  /** STREAMING quantile sketch, driver-checked against the batch
    * sketch's oracle verbatim: the bucket build
    * ([[GroupBys.quantileBuckets]] — one groupBy-count) runs as a
    * complete-mode streaming aggregate, so the standing state is ≤
    * event_types · (value range / 2.5) bucket rows REGARDLESS of how
    * many events the stream ever carries — the bounded-state answer to
    * "p50/p95/p99 per group, over a stream" that exact
    * `percentile_disc` (group-sized sort state) cannot give. The
    * finisher runs batch-side over the drained bucket table, exactly as
    * a consumer reads a continuously-maintained sketch sink — the HLL
    * twin's pattern ([[qStreamHll]]) on the percentile axis.
    */
  def qStreamQuantile(s: SparkSession, dir: String): DataFrame = {
    val regs = StreamDrain.drained(s, dir, "stream_quantile", "events")(st =>
      GroupBys.quantileBuckets(st.select("event_type", "value")))
    GroupBys.quantileFinish(regs,
      Tables.events(s, dir).select("event_type", "value"))
  }

  /** Streaming UPSERT (merge) sink via foreachBatch, driver-checked:
    * every arriving micro-batch MERGEs into a standing per-user
    * latest-state table — union current ∪ batch, keep each user's
    * max-(ts, event_id) row, write as a NEW VERSION dir (write-then-
    * swap; readers never see a half-written table, the lakehouse MERGE
    * discipline without a table format). The merge is associative under
    * any batch split (unique (ts, event_id) total order per user), so
    * the final state is batching-independent; the oracle recomputes it
    * from `events` alone with one window. State size ∝ distinct users,
    * merge cost per batch ∝ state + batch — the shape that absorbs an
    * infinite CDC/ingest stream.
    */
  def qStreamUpsert(s: SparkSession, dir: String): DataFrame = {
    // one state root shared by the per-batch merge and the final read;
    // lazy so a warm (memo-hit) construction never allocates scratch
    lazy val state = graft.Scratch.dirFor(s, "upsert_state")
    // Version election via a one-line COMMIT LOG (`_LATEST`, swapped in
    // by atomic rename after the version's data write completes), not a
    // directory listing: listings are eventually consistent on object
    // stores and can surface half-written version dirs — the pointer
    // file IS the minimal table-format commit-log discipline, and
    // readers follow it in one read. A version is visible iff the
    // pointer names it; a crash between data write and pointer swap
    // leaves the previous version live (write-then-swap, never torn).
    def latest: Option[String] = {
      val ptr = state.resolve("_LATEST")
      if (!java.nio.file.Files.exists(ptr)) None
      else Some(s"$state/v" +
        new String(java.nio.file.Files.readAllBytes(ptr),
          java.nio.charset.StandardCharsets.UTF_8).trim)
    }
    def commit(id: Long): Unit = {
      val tmp = state.resolve(s"_LATEST.tmp$id")
      java.nio.file.Files.write(tmp,
        id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, state.resolve("_LATEST"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
    }
    StreamDrain.drainedBatches(s, dir, "stream_upsert", "events") { (b, id) =>
      val bb = Tables.eventsTs(b)
        .select("user_id", "event_type", "value", "ts", "event_id")
      val cur = latest.map(s.read.parquet(_)).getOrElse(bb.filter(lit(false)))
      StreamOps.upsertMerge(cur, bb)
        .write.mode("overwrite").parquet(s"$state/v$id")
      commit(id)
    } {
      s.read.parquet(latest.getOrElse(
        sys.error("stream_upsert drain produced no state version")))
    }
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("ts").as("last_ts"))
      .orderBy("user_id")
  }

  /** Sink COMPACTION round trip, driver-checked: the streaming parquet
    * sink's many per-batch files are rewritten into a few range-
    * clustered files ([[graft.sources.Io.compactedParquet]] — the
    * OPTIMIZE pass every landing table needs before its small files
    * throttle downstream scans), and the per-source manifest is
    * recomputed FROM THE COMPACTED FILES against the same
    * documents-derived oracle as [[qStreamShardSink]]. Green row =
    * compaction preserved content exactly (no row lost/duplicated by
    * the rewrite); an IoSpec property separately bounds the output
    * file count.
    */
  def qSinkCompaction(s: SparkSession, dir: String): DataFrame =
    sourceManifest(graft.Caches.memoSide(s, dir, "sink_compacted") {
      val sunk = shardSink(s, dir)
      // Session-scoped scratch: the dir goes with this side value on
      // Caches.clear, not parked until JVM exit.
      val out = graft.Scratch.dirFor(s, "compact")
      graft.sources.Io.compactedParquet(sunk, s"$out/data", "doc_id", 4)
      s.read.parquet(s"$out/data")
    })

  override def prewarm(s: SparkSession, dir: String): Unit = {
    // these drains are independent of every other artifact — they run
    // at the head of prep and overlap the index chains, and they are
    // independent of EACH OTHER, so they drain CONCURRENTLY (separate
    // Structured Streaming queries share the session fine; the memo is
    // computeIfAbsent-safe): prep pays max(drain), not Σ(drain) — five
    // sequential drains had tripled the module's prep wall. The
    // decontam drain is NOT prewarmed: it waits on the posting index,
    // and appending it here would extend prep's critical path — the
    // warmup rep pays its one-time drain instead (same for the
    // neardup-gate and compaction drains, which reuse other artifacts).
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val drains = Seq[() => Long](
      () => qStreamTumbling(s, dir).count(),
      () => qStreamSliding(s, dir).count(),
      () => qStreamDedupKeys(s, dir).count(),
      () => qStreamSessionize(s, dir).count(),
      () => qStreamSessionizeFull(s, dir).count(),
      () => qStreamIntervalJoin(s, dir).count(),
      () => qStreamUpsert(s, dir).count(),
      () => qStreamHll(s, dir).count(),
      () => qStreamQuantile(s, dir).count(),
      () => qStreamLateDrop(s, dir).count(),
      () => qStreamShardSink(s, dir).count())
    // Each drain parks its thread in awaitTermination (up to
    // StreamDrain.DrainTimeoutMs) — `blocking` tells the global
    // fork-join pool to grow past its core count, so on a host with
    // fewer cores than drains they still run side by side, and the
    // whole prewarm waits on the same bound as one drain.
    Await.result(
      Future.sequence(drains.map(f => Future(blocking(f())))),
      StreamDrain.DrainTimeoutMs.millis)
    ()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_tumbling" -> (qStreamTumbling(_, _)),
    "q_stream_sliding" -> (qStreamSliding(_, _)),
    "q_stream_dedup_keys" -> (qStreamDedupKeys(_, _)),
    "q_stream_sessionize" -> (qStreamSessionize(_, _)),
    "q_stream_sessionize_full" -> (qStreamSessionizeFull(_, _)),
    "q_stream_interval_join" -> (qStreamIntervalJoin(_, _)),
    "q_stream_upsert" -> (qStreamUpsert(_, _)),
    "q_stream_hll" -> (qStreamHll(_, _)),
    "q_stream_quantile" -> (qStreamQuantile(_, _)),
    "q_stream_late_drop" -> (qStreamLateDrop(_, _)),
    "q_stream_shard_sink" -> (qStreamShardSink(_, _)),
    "q_stream_neardup_gate" -> (qStreamNeardupGate(_, _)),
    "q_sink_compaction" -> (qSinkCompaction(_, _)),
    "q_stream_decontaminate" -> (qStreamDecontaminate(_, _)))

  // identical SQL to the batch twins — equivalence is the claim
  val oracleSql: Map[String, String] = Map(
    "q_stream_dedup_keys" ->
      """SELECT DISTINCT user_id FROM events ORDER BY user_id""",
    "q_stream_shard_sink" ->
      s"""SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  ${Q.sqlChecksum("text")} AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical manifest — compaction must be content-preserving
    "q_sink_compaction" ->
      s"""SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  ${Q.sqlChecksum("text")} AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // The batch q_sessionize CTE verbatim, minus each user's final
    // (still-open) session — the closed-session contract.
    "q_stream_sessionize" ->
      s"""WITH e AS (${Windows.evSql}),
         |g AS (SELECT user_id, event_id, ts, value,
         |    epoch_us(ts) AS us,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_us
         |  FROM e),
         |m AS (SELECT *, CASE WHEN prev_us IS NULL
         |      OR us - prev_us > ${Windows.SessionGapUs} THEN 1 ELSE 0 END AS is_new
         |  FROM g),
         |sess AS (SELECT *,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM m),
         |s2 AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |    count(*) AS n_events,
         |    min(ts) AS session_start, max(ts) AS session_end,
         |    ${Q.sqlDsum("value")} AS sum_value
         |  FROM sess GROUP BY user_id, session_id),
         |mx AS (SELECT user_id, max(session_id) AS last_sess FROM s2 GROUP BY user_id)
         |SELECT s2.user_id, s2.session_id, s2.n_events,
         |  s2.session_start, s2.session_end, s2.sum_value
         |FROM s2 JOIN mx ON s2.user_id = mx.user_id
         |WHERE s2.session_id < mx.last_sess
         |ORDER BY s2.user_id, s2.session_id""".stripMargin,
    "q_stream_decontaminate" -> Fingerprints.sqlDecontaminate,
    // the batch sessionization oracle VERBATIM — the full-ledger claim
    "q_stream_sessionize_full" -> Windows.oracleSql("q_sessionize"),
    // the batch HLL sketch oracle VERBATIM — stream ≡ batch registers
    "q_stream_hll" -> GroupBys.oracleSql("q_hll_distinct"),
    // the batch quantile-sketch oracle VERBATIM — stream ≡ batch buckets
    "q_stream_quantile" -> GroupBys.oracleSql("q_quantile_sketch"),
    // the tumbling oracle over events ALONE — green exactly when the
    // planted beyond-watermark row was dropped and only it
    "q_stream_late_drop" ->
      s"""WITH e AS (${Windows.evSql})
         |SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         |  count(*) AS n, ${Q.sqlDsum("value")} AS sum_value
         |FROM e GROUP BY bucket, event_type
         |ORDER BY bucket, event_type""".stripMargin,
    // final upsert state = each user's latest event, one window
    "q_stream_upsert" ->
      s"""WITH e AS (${Windows.evSql}),
         |r AS (SELECT user_id, event_type, value, ts,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM e)
         |SELECT user_id, event_type AS last_type, value AS last_value,
         |  ts AS last_ts
         |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // the interval join as a plain theta join over events
    "q_stream_interval_join" ->
      s"""WITH e AS (${Windows.evSql}),
         |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts,
         |    value AS click_value FROM e WHERE event_type = 'click'),
         |v AS (SELECT user_id, ts AS view_ts, value AS view_value
         |  FROM e WHERE event_type = 'view')
         |SELECT c.click_id, c.user_id, c.click_ts, c.click_value,
         |  v.view_ts, v.view_value
         |FROM c JOIN v ON v.user_id = c.user_id
         |  AND v.view_ts <= c.click_ts
         |  AND v.view_ts >= c.click_ts - INTERVAL 30 MINUTE
         |ORDER BY c.click_id, v.view_ts, v.view_value""".stripMargin,
    // both sides' signatures recomputed from documents alone — the
    // bands CTE is the batch minhash spelling verbatim
    "q_stream_neardup_gate" ->
      s"""${Fingerprints.sqlMinhashCtes}
         |SELECT DISTINCT q.doc_id, q.band, v.doc_id AS standing_doc
         |FROM bands q JOIN bands v
         |  ON q.band = v.band AND q.v1 = v.v1 AND q.v2 = v.v2
         |WHERE q.doc_id % 10 = 7 AND v.doc_id % 10 <> 7
         |ORDER BY 1, 2, 3""".stripMargin,
    "q_stream_tumbling" ->
      s"""WITH e AS (${Windows.evSql})
         |SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
         |  count(*) AS n, ${Q.sqlDsum("value")} AS sum_value
         |FROM e GROUP BY bucket, event_type
         |ORDER BY bucket, event_type""".stripMargin,
    "q_stream_sliding" ->
      s"""WITH e AS (${Windows.evSql})
         |SELECT bucket, count(*) AS n, ${Q.sqlDsum("value")} AS sum_value
         |FROM (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, value FROM e
         |  UNION ALL
         |  SELECT time_bucket(INTERVAL '1 hour', ts,
         |    INTERVAL '30 minutes') AS bucket, value FROM e)
         |GROUP BY bucket ORDER BY bucket""".stripMargin)
}
