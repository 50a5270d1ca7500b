package graft

/** Pins the one session configuration: a change to it is a change to what
  * Bench, ScaleStress, Verify and the tests all run on, so it must show
  * up here.
  */
class SessionSpec extends SparkSpec {

  // The one settings map, which Bench (and every other session) runs on
  test("bench profile: cores partitions, AQE with SHJ 64m, FAIR, 1 MB splits") {
    assert(Session.settings(8) == Map(
      "spark.master" -> "local[8]",
      "spark.app.name" -> "graft",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.scheduler.mode" -> "FAIR",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "262144"))
  }

  test("cores come from SPARK_GRAFT_CPUS, else the host; the test session runs on 4") {
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
    assert(Session.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(spark.sparkContext.defaultParallelism == 4)
  }

  test("the running test session carries every setting, and new sessions inherit UTC") {
    val conf = spark.sparkContext.getConf
    Session.settings(4).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // UTC reaches sessions graft did not prep (IoSpec's newSession)
    assert(spark.newSession().conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
