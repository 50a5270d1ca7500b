package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every profile shares the
  * base — `local[cpus]`, UTC, no UI, a log level and [[Tables.prep]] —
  * and adds the settings of the main it serves. Settings are a pure
  * function of (profile, cores) so SessionSpec can pin them without
  * starting a second session.
  */
object Session {
  sealed trait Profile
  object Profile {
    /** `graft.Bench` and the plan/artifact dev tools. */
    case object Bench extends Profile
    /** `graft.ScaleStress` and the leg dev tool. */
    case object Gate extends Profile
    /** `graft.Verify`, the per-query parquet dump checked against DuckDB. */
    case object Verify extends Profile
    /** The test JVM's shared session. */
    case object Test extends Profile
  }
  import Profile._

  /** Cores: SPARK_GRAFT_CPUS, else the profile's fallback. Tests always
    * run on 4, whatever the host.
    */
  def cpus(p: Profile, env: Map[String, String]): Int = p match {
    case Test => 4
    case _ =>
      env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(if (p == Verify) 4 else 32)
  }

  def logLevel(p: Profile): String = if (p == Verify) "WARN" else "ERROR"

  /** Every SparkConf entry the profile sets on `cpus` cores. */
  def settings(p: Profile, cpus: Int): Map[String, String] = {
    val base = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    base ++ (p match {
      case Bench => Map(
        "spark.app.name" -> "graft-bench",
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.adaptive.enabled" -> "true",
        // Let AQE swap sort-merge for shuffled-hash joins from RUNTIME
        // sizes (guide §3.1): when a join's build side exceeds the
        // broadcast threshold, the sort-merge fallback SORTS both sides —
        // at the 100× gate that was two full sorts of the 10⁹-row
        // positional-hash table against a 10⁷-row duplicated-hash build
        // side. 64 MB per post-shuffle build partition bounds each task's
        // hash map (× cores = ≤2 GB concurrent build memory); the default
        // (0) never converts. Scale-adaptive by construction — small
        // builds still broadcast, oversized builds still sort-merge.
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
        // Concurrent query legs (prep prewarms; the pooled timed leg)
        // share the executor fairly instead of FIFO head-of-line blocking.
        "spark.scheduler.mode" -> "FAIR",
        // Split size matched to the data scale: sf0.1 lineitem is one
        // ~11 MB parquet file, which under the production default (128 MB)
        // scans on a single thread. 1 MB splits ≈ one row-group per core
        // here; at real multi-TB scale the default is the right setting.
        "spark.sql.files.maxPartitionBytes" -> "1m",
        "spark.sql.files.openCostInBytes" -> "262144")
      // The gate shares bench's runtime SMJ→shuffled-hash conversion, so
      // it measures the join plans the bench runs. It keeps the default
      // split size, FIFO scheduling and 32 partitions on any host: its
      // recorded leg times and 10×/100× ratios were taken that way, and
      // aligning them with bench needs a fresh recorded gate run.
      case Gate => Map(
        "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")
      case Verify => Map(
        "spark.sql.shuffle.partitions" -> cpus.toString)
      case Test => Map(
        "spark.app.name" -> "graft-test",
        "spark.sql.shuffle.partitions" -> cpus.toString)
    })
  }

  /** Starts (or joins) the JVM's session under profile `p`. */
  def start(p: Profile): SparkSession = {
    val s = SparkSession.builder()
      .config(settings(p, cpus(p, sys.env)))
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel(p))
    Tables.prep(s)
  }
}
