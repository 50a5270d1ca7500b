package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Drive a streaming plan over a corpus table and hand back its standing
  * result table — the bridge that lets STREAMING operators answer the
  * driver's batch correctness gate (same oracle SQL as their batch
  * twins, so batch↔stream equivalence is a CHECKED claim, not a spec
  * assertion).
  *
  * Shape: file source over a temp watch dir holding the corpus
  * file/parts (the landing-dir stand-in; a production stream watches
  * the real landing dir), the caller's transform, complete-mode drain
  * through an `availableNow` trigger into a memory sink. The drained
  * table is memoized per (session, corpus, kind) via [[graft.Caches]] —
  * in production the monitor runs continuously and consumers read its
  * sink; here the one drain IS that standing state. Complete mode on
  * purpose: an append-mode windowed aggregate holds back windows the
  * final watermark has not passed, so end-of-stream results would be a
  * strict subset of batch — the wrong thing to hash against a batch
  * oracle. State stays bounded by the aggregate's key space (value
  * range / window count), which is the operator author's contract.
  */
object StreamDrain {

  /** Bound on a single availableNow drain — a liveness backstop, not a
    * performance budget (the 100× gate corpus legitimately needs more
    * than the old 300 s cap; a production monitor has no cap at all).
    */
  private val DrainTimeoutMs: Long =
    sys.env.get("SPARK_GRAFT_DRAIN_TIMEOUT_MS").map(_.toLong).getOrElse(1200000L)

  /** @param kind   cache key + memory-sink name prefix
    * @param table  corpus table name (reads `dir/table.parquet`)
    * @param mode   "complete" for aggregates (default — see object doc),
    *               "append" for STATELESS transforms and streaming
    *               dedup: those emit rows the moment they pass, nothing
    *               is held back by a watermark, so the drained table is
    *               the full batch-equivalent result
    * @param extra  optional extra rows staged as one more file in the
    *               watch dir (same schema as the source) — the heartbeat
    *               / sentinel hook event-time-timeout drains need to push
    *               the final watermark past every pending timeout.
    *               BY-NAME: the sentinel frame is only ever written into
    *               the watch dir, so it is built inside the
    *               once-per-corpus memo and not on warm re-construction,
    *               where it would be analyzed for nothing.
    * @param build  the streaming transform
    */
  def drained(s: SparkSession, dir: String, kind: String, table: String,
      mode: String = "complete", extra: => Option[DataFrame] = None)(
      build: DataFrame => DataFrame): DataFrame =
    graft.Caches.memo(s, dir, kind) {
      val (watch, schema) = watchDirFor(s, dir, kind, table)
      extra.foreach { df =>
        val tmp = graft.Scratch.dirFor(s, s"extra_$kind")
        df.write.mode("overwrite").parquet(s"$tmp/w")
        val st = Files.list(Paths.get(s"$tmp/w"))
        try {
          val it = st.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.endsWith(".parquet"))
              Files.copy(p,
                Paths.get(watch).resolve("zz_extra_" + p.getFileName.toString))
          }
        } finally st.close()
      }
      val qname = kind + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = build(s.readStream.schema(schema).parquet(watch))
        .writeStream.format("memory").queryName(qname)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q.awaitTermination(DrainTimeoutMs),
        s"availableNow drain of $kind timed out")
      finally q.stop()
      s.table(qname)
    }

  /** STAGED drain — the arrival-order-controlled variant of [[drained]]:
    * each element of `stages` lands as ONE parquet file with strictly
    * increasing (fixed, deterministic) modification times, and the file
    * source reads `perTrigger` files per micro-batch, so the BATCH
    * BOUNDARIES are part of the test fixture. This is what a
    * watermark-semantics claim needs: the watermark only advances
    * between batches, so "a row arriving after the watermark passed its
    * event time" is only expressible by pinning which rows share a
    * batch. Memoized like the other drains.
    */
  def drainedStaged(s: SparkSession, dir: String, kind: String,
      stages: Seq[DataFrame], perTrigger: Int, mode: String)(
      build: DataFrame => DataFrame): DataFrame =
    graft.Caches.memo(s, dir, kind) {
      val watch = graft.Scratch.dirFor(s, s"stream_$kind")
      val schema = stages.head.schema
      stages.zipWithIndex.foreach { case (df, i) =>
        val tmp = graft.Scratch.dirFor(s, s"stage_${kind}_$i")
        df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/w")
        // exactly ONE part file per stage (explicit, was implicit in the
        // coalesce(1) above — ADVICE r12): a multi-part stage would
        // have thrown FileAlreadyExistsException on the fixed dst name,
        // an empty stage would silently stage nothing.
        val parts = {
          val st = Files.list(Paths.get(s"$tmp/w"))
          try {
            val it = st.iterator()
            var l = List.empty[java.nio.file.Path]
            while (it.hasNext) {
              val p = it.next()
              if (p.getFileName.toString.endsWith(".parquet")) l ::= p
            }
            l
          } finally st.close()
        }
        require(parts.length == 1,
          s"staged drain of $kind: stage $i wrote ${parts.length} part files (want exactly 1)")
        val dst = watch.resolve(f"stage_$i%03d.parquet")
        Files.copy(parts.head, dst)
        // deterministic strictly-increasing mtimes: oldest-first is
        // the file source's default read order
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            1700000000000L + i * 600000L))
      }
      val qname = kind + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = build(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", perTrigger.toString)
          .parquet(watch.toString))
        .writeStream.format("memory").queryName(qname)
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q.awaitTermination(DrainTimeoutMs),
        s"availableNow staged drain of $kind timed out")
      finally q.stop()
      s.table(qname)
    }

  /** FILE-sink drain: run the caller's (stateless, append-mode)
    * streaming transform into an exactly-once PARQUET sink — path plus
    * checkpoint write-ahead log plus the sink's `_spark_metadata`
    * commit log, the production landing→shards ingest shape — and hand
    * back the sink read BACK through that commit log (a batch read of
    * the directory honors `_spark_metadata`, so files from aborted or
    * uncommitted batches are invisible: the exactly-once contract is
    * what the caller's oracle certifies, not just the transform).
    * Memoized per (session, corpus, kind) like the memory-sink drains.
    */
  def drainedFiles(s: SparkSession, dir: String, kind: String, table: String)(
      build: DataFrame => DataFrame): DataFrame =
    graft.Caches.memoSide(s, dir, kind) {
      val (watch, schema) = watchDirFor(s, dir, kind, table)
      val out = graft.Scratch.dirFor(s, s"sink_$kind")
      val q = build(s.readStream.schema(schema).parquet(watch))
        .writeStream.format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/checkpoint")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q.awaitTermination(DrainTimeoutMs),
        s"availableNow file drain of $kind timed out")
      finally q.stop()
      s.read.parquet(s"$out/data")
    }

  /** foreachBatch drain — the THIRD canonical sink next to the memory
    * and file sinks: run the stream through a caller-provided per-batch
    * SINK action (the arbitrary-sink API a production pipeline uses for
    * MERGE/upsert into a keyed table), under a checkpoint so batch ids
    * are stable, then hand back the caller's final read. Memoized like
    * the other drains.
    */
  def drainedBatches(s: SparkSession, dir: String, kind: String,
      table: String)(sink: (DataFrame, Long) => Unit)(
      result: => DataFrame): DataFrame =
    graft.Caches.memoSide(s, dir, kind) {
      val (watch, schema) = watchDirFor(s, dir, kind, table)
      val q = s.readStream.schema(schema).parquet(watch)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation",
          graft.Scratch.dirFor(s, s"chk_$kind").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(q.awaitTermination(DrainTimeoutMs),
        s"availableNow foreachBatch drain of $kind timed out")
      finally q.stop()
      result
    }

  /** Stage `dir/table.parquet`'s files into a fresh watch dir (the
    * landing-dir stand-in a file-source stream monitors) and return it
    * with the source schema.
    */
  private def watchDirFor(s: SparkSession, dir: String, kind: String,
      table: String): (String, org.apache.spark.sql.types.StructType) = {
    val srcPath = s"$dir/$table.parquet"
    val schema = graft.Tables.load(s, dir, table).schema
    val watch = graft.Scratch.dirFor(s, s"stream_$kind")
    val src = Paths.get(srcPath)
    if (Files.isDirectory(src)) {
      val st = Files.list(src)
      try {
        val it = st.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.endsWith(".parquet"))
            Files.copy(p, watch.resolve(p.getFileName.toString))
        }
      } finally st.close()
    } else Files.copy(src, watch.resolve(s"$table.parquet"))
    (watch.toString, schema)
  }
}
