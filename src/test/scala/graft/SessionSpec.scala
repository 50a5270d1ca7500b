package graft

import graft.Session.Profile._

/** Pins every session profile to the settings its main has always run
  * with: a change to a profile is a change to what Bench, ScaleStress,
  * Verify or the tests measure, so it must show up here.
  */
class SessionSpec extends SparkSpec {

  private def base(cpus: Int) = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  test("bench profile: cores partitions, AQE with SHJ 64m, FAIR, 1 MB splits") {
    assert(Session.settings(Bench, 8) == base(8) ++ Map(
      "spark.app.name" -> "graft-bench",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.scheduler.mode" -> "FAIR",
      "spark.sql.files.maxPartitionBytes" -> "1m",
      "spark.sql.files.openCostInBytes" -> "262144"))
  }

  test("gate profile: bench's SHJ conversion, 32 partitions, default splits, FIFO") {
    assert(Session.settings(Gate, 8) == base(8) ++ Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m"))
  }

  test("verify and test profiles: cores partitions only") {
    assert(Session.settings(Verify, 8) == base(8) ++ Map(
      "spark.sql.shuffle.partitions" -> "8"))
    assert(Session.settings(Test, 4) == base(4) ++ Map(
      "spark.app.name" -> "graft-test",
      "spark.sql.shuffle.partitions" -> "4"))
  }

  test("cores fall back per profile; tests ignore SPARK_GRAFT_CPUS") {
    val unset = Map.empty[String, String]
    val set = Map("SPARK_GRAFT_CPUS" -> "6")
    assert(Seq(Bench, Gate, Verify, Test).map(Session.cpus(_, unset)) == Seq(32, 32, 4, 4))
    assert(Seq(Bench, Gate, Verify, Test).map(Session.cpus(_, set)) == Seq(6, 6, 6, 4))
    assert(Seq(Bench, Gate, Verify, Test).map(Session.logLevel) ==
      Seq("ERROR", "ERROR", "WARN", "ERROR"))
  }

  test("the running test session carries its profile, and new sessions inherit it") {
    val conf = spark.sparkContext.getConf
    Session.settings(Test, 4).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    // UTC reaches sessions graft did not prep (IoSpec's newSession)
    assert(spark.newSession().conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
