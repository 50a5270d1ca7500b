package graft
import java.nio.file.{Files, Paths}

import org.apache.commons.io.FileUtils

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.start(Session.cpus(sys.env))
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter (local iteration only; the driver
    // always runs the full set).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Pre-delete each query's output so a failure can never pass the
      // oracle compare against STALE parquet from a previous run.
      FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and every control char — a tab
    // or CR in builder-authored SQL must not make the driver's json.load
    // fail and silently zero the round's correctness.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonMapper.writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
