package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built, with one configuration
  * for Bench, Verify, ScaleStress, the dev tool and the tests:
  * `local[cores]`, UTC, no UI, the settings below and [[Tables.prep]].
  * Settings are a pure function of the core count so SessionSpec can pin
  * them without starting a second session.
  */
object Session {
  /** Cores: SPARK_GRAFT_CPUS, else every core of the host. */
  def cpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every SparkConf entry a graft session sets on `cores` cores. */
  def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> cores.toString,
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

  /** Starts (or joins) the JVM's session on `cores` cores. */
  def start(cores: Int): SparkSession = {
    val s = SparkSession.builder().config(settings(cores)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.prep(s)
  }
}
