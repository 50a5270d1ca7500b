package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Session-scoped scratch directories for the streaming drains (watch
  * dirs, parquet sinks, compaction output) — replaces the per-drain
  * `createTempDirectory` + `deleteOnExit` pattern, which leaked:
  * `File.deleteOnExit` is a no-op on non-empty directories, so every
  * drain (and every ScaleStress invariance leg, which rebuilds the
  * drains after `Caches.clear`) left its parquet data in /tmp for the
  * host to collect.
  *
  * Lifecycle contract:
  *
  *  - ONE root per JVM, deleted RECURSIVELY by a shutdown hook — the
  *    backstop that actually works on non-empty trees;
  *  - every allocation is tracked against the session that asked for
  *    it and deleted when that session's caches are invalidated
  *    ([[graft.Caches.clear]]/`clearAll`, which the session-end listener
  *    also fires) — a long-lived JVM cycling sessions, or a harness
  *    clearing caches between legs, reclaims the space immediately
  *    instead of accumulating directories until exit. Registered via
  *    `Caches.onInvalidate`, which an artifact `replace` (the
  *    index-append maintenance path) does not fire: it leaves dirs
  *    derived from the raw corpus tables valid.
  */
object StreamScratch {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft_streams")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(p.toFile)))
    p
  }

  private val bySession =
    new ConcurrentHashMap[SparkSession, java.util.List[Path]]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  graft.Caches.onInvalidate {
    case Some(s) => release(s)
    case None =>
      bySession.forEach((_, ps) => ps.forEach(p => rm(p.toFile)))
      bySession.clear()
  }

  private def release(s: SparkSession): Unit =
    Option(bySession.remove(s)).foreach(_.forEach(p => rm(p.toFile)))

  /** A fresh directory under the JVM scratch root, deleted when `s`'s
    * caches are invalidated (and, as a backstop, at JVM exit).
    */
  def dirFor(s: SparkSession, kind: String): Path = {
    val p = Files.createDirectories(
      root.resolve(s"${kind}_${seq.incrementAndGet()}"))
    bySession.computeIfAbsent(s,
      _ => new java.util.concurrent.CopyOnWriteArrayList[Path]()).add(p)
    p
  }

  /** Directories currently tracked for `s` — the IoSpec orphan probe. */
  private[graft] def tracked(s: SparkSession): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    Option(bySession.get(s)).map(_.asScala.toSeq).getOrElse(Seq.empty)
  }
}
