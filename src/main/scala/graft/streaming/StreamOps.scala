package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators over the events stream shape
  * (`event_id, user_id, event_type, value, ts`) — SURVEY.md §2.9: the
  * reference has NO streaming at all; these are the beyond-reference
  * extensions, written as plan transforms (`DataFrame => DataFrame`) so
  * the same code runs on `readStream` sources in production and on
  * `MemoryStream` in tests.
  *
  * Scale notes: watermarks bound state (late data beyond the watermark
  * is dropped, state for closed windows is freed); stateful
  * sessionization keys state by user — state size ∝ active users, not
  * events. Both are the canonical shapes for unbounded input.
  */
object StreamOps {

  /** Tumbling event-time window aggregation with a watermark —
    * the streaming twin of `graft.queries.Windows.qWindowTumbling`.
    * The value sum accumulates in DECIMAL(28,4) (cast back to double on
    * output): streaming state folds incrementally in arrival order, so
    * a raw double sum would be order-dependent and never hash-match the
    * batch twin's oracle — the same Q.dsum discipline every batch sum
    * follows.
    */
  def tumblingCounts(events: DataFrame,
      watermark: String = "10 minutes", window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding windows (1h every 30m) with watermark — the streaming twin
    * of `graft.queries.Windows.qWindowSliding`, with the same
    * decimal-exact value sum as [[tumblingCounts]].
    */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket"), col("n"), col("sum_value"))

  /** Per-document distinct shingle hashes as an IN-ROW array — the same
    * 3-word-shingle · 60-bit-md5 pipeline as the batch posting index
    * ([[graft.queries.Fingerprints]] `shingleIndexOf`; distinctness
    * applied after hashing, matching the index's (doc_id, h) dedup), but
    * computed without any explode so it is usable in a fully STATELESS
    * streaming map. The hash spelling is INTERPOLATED from
    * [[graft.queries.Fingerprints.hashOfSql]] — batch and stream cannot
    * drift (round 10 hand-synced them; the stream kept an old mod-2³¹
    * reduction and the decontamination gate went silently inert).
    *
    * The word split is bound ONCE per row as a lambda variable (`ws`,
    * via a one-element `transform`), so the shingle lambda reads the
    * bound array — the expression-level analog of the batch index's
    * materialized `words` column. The round-12 100× gate caught the
    * alternative: with `split(text, ' ')` spelled inline, the
    * interpreted higher-order lambda re-ran the split per ELEMENT —
    * O(words² · chars) per document, invisible at oracle scale and a
    * >20-minute stall on the planted >2²⁰-char documents. A plain
    * projection column is NOT a fix: Catalyst's filter pushdown
    * (PushPredicateThroughNonJoin) substitutes aliases into predicates
    * unconditionally, re-inlining the split into every lambda use —
    * only a lambda binding is substitution-proof in every host node.
    */
  val shingleHashes: Column = expr(
    s"""element_at(transform(array(split(text, ' ')), ws ->
      |  array_distinct(transform(
      |    CASE WHEN size(ws) >= 3
      |      THEN transform(sequence(0, size(ws) - 3),
      |        i -> ${graft.queries.Fingerprints.shingleSql("ws")})
      |      ELSE array(text) END,
      |    sg -> ${graft.queries.Fingerprints.hashOfSql("sg")}))), 1)""".stripMargin)

  /** Streaming decontamination under the BATCH overlap rule (see
    * `Fingerprints.qDecontaminate`): drop an arriving document when ≥
    * `minHits` of its distinct shingle hashes appear in the benchmark
    * set. The benchmark hashes ride along as a broadcast-sized literal
    * array and the overlap is an in-row `array_intersect`, so the query
    * has NO streaming state and no shuffle — memory is bounded by the
    * eval set, the contract that lets the same code run on an infinite
    * ingest stream. Batch↔stream equivalence is pinned by a spec
    * running this on a file source with an availableNow trigger against
    * the batch query's result.
    */
  def decontaminateByOverlap(docs: DataFrame, benchHashes: Seq[Long],
      minHits: Int): DataFrame =
    docs
      .withColumn("__hits",
        size(array_intersect(shingleHashes, lit(benchHashes.toArray))))
      .filter(col("__hits") < minHits)
      .drop("__hits")

  /** Per-document MinHash LSH band values as (doc_id, band, v1, v2)
    * rows — the SAME 16-hash / 8-band two-family 62-bit construction as
    * the batch pipeline (each permutation is `Fingerprints.sigOf`
    * VERBATIM over the in-row hash array; the min is duplicate-
    * insensitive, so the in-row `array_distinct` hash set yields
    * bit-identical signatures to the batch aggregation over the deduped
    * posting index — pinned by the parity spec against
    * [[graft.queries.Fingerprints.bandTable]]). Everything before the
    * final stack is an in-row expression — usable in a fully stateless
    * streaming map.
    */
  def minhashBands(docs: DataFrame): DataFrame = {
    import graft.queries.{Fingerprints => F}
    val sigCols = (0 until F.NumHashes).map(j =>
      expr(s"array_min(transform(__sh, h -> ${F.sigOf(j, "h")}))").as(s"sig$j"))
    val stackArgs = (0 until F.NumBands)
      .map(b => s"$b, sig${2 * b}, sig${2 * b + 1}").mkString(", ")
    docs.withColumn("__sh", shingleHashes)
      .select(col("doc_id") +: sigCols: _*)
      .selectExpr("doc_id", s"stack(${F.NumBands}, $stackArgs) AS (band, v1, v2)")
  }

  /** Streaming NEAR-DUP ingest gate — the LSH candidate check a corpus
    * pipeline runs on every arriving document against the STANDING band
    * index (the batch pipeline's materialized signatures, a static
    * table): an arriving doc that shares any band bucket with a
    * standing doc is a near-dup CANDIDATE and is routed to the exact
    * confirm path; docs with no collision are admitted immediately.
    * Emits the collision records (arriving doc, band, standing doc) —
    * the routing feed. Shape: in-row signatures + a stream-STATIC
    * equi-join on (band, v1, v2) — NO streaming state, no stream-side
    * shuffle beyond the join; memory is bounded regardless of how long
    * the stream runs, and the static side is the same artifact the
    * batch dedup already maintains.
    */
  def nearDupIngestGate(docs: DataFrame, standingBands: DataFrame): DataFrame =
    minhashBands(docs).join(
      standingBands.select(col("band"), col("v1"), col("v2"),
        col("doc_id").as("standing_doc")),
      Seq("band", "v1", "v2"))

  /** One step of the foreachBatch UPSERT sink's merge: current state ∪
    * batch, keep each user's max-(ts, event_id) row. Unique (ts,
    * event_id) per user makes the keep-rule a total order, so the merge
    * is associative — the final state is the same under ANY batching
    * (spec-pinned), which is what lets the sink absorb an infinite
    * CDC/ingest stream without coordination.
    */
  def upsertMerge(cur: DataFrame, batch: DataFrame): DataFrame =
    cur.unionByName(batch)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"),
        col("event_type"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_type").as("event_type"),
        col("m.value").as("value"), col("m.ts").as("ts"),
        col("m.event_id").as("event_id"))

  /** Watermarked stream-stream interval join — each click pairs with
    * the same user's views inside [click.ts − maxAge, click.ts]. The
    * interval bound plus the watermarks is what makes the join state
    * FINITE: each side buffers only rows younger than watermark+maxAge,
    * and Spark prunes the rest as event time advances. An unbounded
    * stream-stream equi-join would buffer both streams forever — the
    * bound is not an optimization, it is the thing that makes the
    * operator runnable on an infinite stream. Inner matches emit as
    * soon as both rows arrive (no watermark wait on the output path).
    */
  def intervalJoin(clicks: DataFrame, views: DataFrame,
      watermark: String = "10 minutes",
      maxAge: String = "30 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"), col("value").as("click_value"))
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("view_user"), col("ts").as("view_ts"),
        col("value").as("view_value"))
    c.join(v,
        col("user_id") === col("view_user")
          && col("view_ts") <= col("click_ts")
          && col("view_ts") >= col("click_ts") - expr(s"INTERVAL $maxAge"))
      .drop("view_user")
  }

  case class Event(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: Timestamp)

  /** Epoch MICROS of a Timestamp (getTime alone drops the sub-ms part
    * the events table carries).
    */
  def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** value rounded into DECIMAL(28,4) unscaled units — the per-element
    * step of the [[graft.queries.Q.dsum]] discipline, so an incremental
    * state fold sums EXACTLY what the batch decimal aggregate sums
    * (same BigDecimal.valueOf canonical-string rounding Spark's
    * double→decimal cast performs) and the emitted double matches the
    * batch twin bit-for-bit regardless of arrival order.
    */
  private def scaled4(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  case class ClosedSessState(start: Long, lastUs: Long, n: Long,
      sumUnscaled: Long, emitted: Long)
  case class ClosedSession(user_id: Long, session_id: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp, sum_value: Double)

  /** CLOSED-session ledger via `flatMapGroupsWithState` — the custom-
    * state sessionizer whose output is deterministic on an unbounded
    * stream and therefore driver-checkable: a session is emitted exactly
    * when a later event from the same user closes it (gap > `gapUs`,
    * the batch [[graft.queries.Windows]] rule: strict >, ties broken by
    * event_id). Each user's final session stays OPEN in state — on an
    * infinite stream that is the correct answer (it may still grow),
    * and on a bounded drain it makes the result exactly "the batch
    * sessionization minus each user's last session", an oracle-exact
    * claim with NO dependence on watermark/timeout timing.
    *
    * The production flush for idle users is the timeout path
    * [[sessionizeFull]] carries; this operator deliberately has NoTimeout
    * so emission depends only on the event sequence. State per user is
    * one open session (five longs) — bounded by active users. Events
    * are sorted per batch; cross-batch the per-user landing order is
    * assumed time-ordered (the landing-dir contract; the availableNow
    * drain delivers everything in one batch, where the sort makes
    * order irrelevant). Session ids are per-user ordinals in close
    * order, so they line up with the batch twin's running counter.
    * Sums fold in DECIMAL(28,4) unscaled units ([[scaled4]]).
    */
  private def emitSession(uid: Long, st: ClosedSessState): ClosedSession =
    ClosedSession(uid, st.emitted + 1, st.n,
      microsTs(st.start), microsTs(st.lastUs),
      new java.math.BigDecimal(
        java.math.BigInteger.valueOf(st.sumUnscaled), 4).doubleValue())

  /** The shared per-group batch fold of both session ledgers: fold this
    * batch's (sorted) events into the open-session state, emitting the
    * sessions CLOSED by a later event (gap strict >, ties by event_id,
    * decimal-exact sums) and leaving the trailing open session in state.
    */
  private def foldClosedBatch(uid: Long, rows: Iterator[Event],
      state: GroupState[ClosedSessState], gapUs: Long): Iterator[ClosedSession] = {
    val sorted = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
    var cur = state.getOption
    var out = List.empty[ClosedSession]
    sorted.foreach { e =>
      val t = micros(e.ts)
      cur match {
        case Some(st) if t - st.lastUs > gapUs =>
          out ::= emitSession(uid, st)
          cur = Some(ClosedSessState(t, t, 1, scaled4(e.value), st.emitted + 1))
        case Some(st) =>
          cur = Some(st.copy(lastUs = math.max(st.lastUs, t), n = st.n + 1,
            sumUnscaled = st.sumUnscaled + scaled4(e.value)))
        case None =>
          cur = Some(ClosedSessState(t, t, 1, scaled4(e.value), 0))
      }
    }
    cur.foreach(state.update)
    out.reverse.iterator
  }

  def sessionizeClosed(events: Dataset[Event], gapUs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClosedSessState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        foldClosedBatch(_, _, _, gapUs))
  }

  /** FULL-session ledger via EVENT-TIME timeout — the production flush
    * [[sessionizeClosed]] deliberately omits: same fold (gap strict >,
    * ties by event_id, decimal-exact sums, per-user close-order
    * ordinals), plus each open session arms an event-time timeout at
    * `lastTs + gap`; when the WATERMARK passes it — meaning no on-time
    * event can still join the session — the state flushes as the user's
    * final session and is removed. State per user is one open session,
    * freed on flush: bounded by ACTIVE users, the property that lets
    * this run forever while idle users' sessions still emit.
    *
    * The watermark delay is 0 here (the drained file source replays a
    * landing dir whose per-user order is the contract; production sets
    * a real out-of-orderness budget). The fold is [[foldClosedBatch]]:
    * a late arrival that does get through — event time before the open
    * session's last event — joins that open session, adding to its
    * count and sum; the session's last event time stays put and its
    * start is NOT moved back to the late event. On a BOUNDED drain the
    * watermark stops at the stream's max event time, so the ledger
    * equals the full batch sessionization exactly when a
    * max-event-time heartbeat ≥ every `lastTs + gap` rides at the end
    * of the stream (the sentinel row the driver query stages); the
    * heartbeat user's own session can never flush (the watermark cannot
    * pass its `ts + gap`) so it stays invisibly open — on an infinite
    * stream the heartbeat is just the upstream liveness tick every
    * event-time pipeline already carries.
    *
    * ORDINAL RESTART CONTRACT (unbounded streams): the timeout flush
    * removes the user's whole state, including the emitted-session
    * counter — keeping a per-user tombstone would make state grow with
    * users EVER seen, forfeiting the active-users bound that justifies
    * this operator. So a user who returns after a flush restarts
    * session_id at 1, and the append ledger's (user_id, session_id) can
    * repeat across flush epochs. Consumers needing a globally unique
    * session key must use (user_id, session_start) — unique by
    * construction, since consecutive sessions of one user are separated
    * by > gap and the watermark guarantees no two flushes overlap a
    * start. The bounded drains the gate checks can never hit the
    * restart (the heartbeat rides last), and the batch twin's running
    * ordinal matches exactly there; on the runs-forever contract the
    * ordinal is an EPOCH-LOCAL sequence number, by design.
    */
  def sessionizeFull(events: Dataset[Event], gapUs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClosedSessState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[ClosedSessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(emitSession(uid, st))
          } else {
            val out = foldClosedBatch(uid, rows, state, gapUs)
            state.getOption.foreach { st =>
              // flush once the watermark passes the gap horizon (ms
              // ceiling + 1 so an exactly-on-gap event — same session
              // under the strict-> rule — can never race the flush);
              // clamp above the current watermark (required by the API)
              // for sessions already closed-by-time when they land.
              state.setTimeoutTimestamp(math.max(
                (st.lastUs + gapUs) / 1000L + 1L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out
          }
      }
  }
}
