package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Every file a query writes — stream watch dirs and sinks, the CSV/
  * JSON/ORC round-trip sinks, the partitioned and bucketed layouts, the
  * training shards — lives under ONE root per JVM, in a per-session dir.
  *
  * Lifecycle contract:
  *
  *  - the root is a fresh temp dir, under `SPARK_GRAFT_SCRATCH` when set
  *    (on a cluster that must be storage every executor shares; the
  *    default driver-local path works only because local[*] executors
  *    share the driver's disk). Only this fresh dir is ever deleted,
  *    never the user's directory;
  *  - a session's dir is deleted by [[Caches.clear]]/`clearAll` (which
  *    the session-end listener also fires), so a long-lived JVM cycling
  *    sessions, or a harness clearing caches between legs, reclaims the
  *    space at once;
  *  - one shutdown hook deletes the whole root at JVM exit, the backstop
  *    (`File.deleteOnExit` is a no-op on non-empty directories).
  */
object Scratch {

  private[graft] lazy val root: Path = {
    val p = sys.env.get("SPARK_GRAFT_SCRATCH") match {
      case Some(shared) =>
        Files.createTempDirectory(Files.createDirectories(Paths.get(shared)), "graft")
      case None => Files.createTempDirectory("graft_scratch")
    }
    // Under the lock [[clear]] takes: the session-end listener clears
    // concurrently at exit, and a recursive delete that meets a file
    // vanishing under it gives up before removing the root.
    Runtime.getRuntime.addShutdownHook(new Thread(() => synchronized {
      FileUtils.deleteQuietly(p.toFile); ()
    }))
    p
  }

  private val bySession = new ConcurrentHashMap[SparkSession, Path]()
  private val seq = new AtomicLong()

  /** A fresh directory in `s`'s scratch dir, deleted when `s`'s caches
    * are cleared (and, as a backstop, at JVM exit).
    */
  def dirFor(s: SparkSession, kind: String): Path = {
    val home = bySession.computeIfAbsent(s,
      _ => root.resolve(s"session_${seq.incrementAndGet()}"))
    Files.createDirectories(home.resolve(s"${kind}_${seq.incrementAndGet()}"))
  }

  /** Directories currently allocated for `s` — the IoSpec orphan probe. */
  private[graft] def tracked(s: SparkSession): Seq[Path] =
    Option(bySession.get(s)).filter(Files.isDirectory(_)).toSeq.flatMap { home =>
      val st = Files.list(home)
      try st.toArray.toSeq.map(_.asInstanceOf[Path]) finally st.close()
    }

  /** Delete the scratch dir of `s`, or of every session. */
  private[graft] def clear(sOpt: Option[SparkSession]): Unit = synchronized {
    bySession.entrySet().removeIf { e =>
      val mine = sOpt.forall(_ eq e.getKey)
      if (mine) FileUtils.deleteQuietly(e.getValue.toFile)
      mine
    }; ()
  }
}
