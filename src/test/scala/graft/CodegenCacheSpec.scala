package graft

/** Spark's codegen class cache holds a warm pass: [[Tables.prep]] sizes
  * it, so a repeat of a pass the JVM has already compiled compiles
  * nothing. With Spark's default of 100 entries and AQE off, every
  * repeat round of the 22 TPC-H queries recompiled 342 classes (353 in
  * round 1).
  */
class CodegenCacheSpec extends SparkSpec {

  test("Session.start sizes the codegen class cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
  }

  // AQE is off here because it re-plans from the order in which a
  // query's stages finish: a repeat can then meet a plan variant it has
  // not compiled before (seen: 6 and 10 classes in one query of a round).
  // With fixed plans, a repeat that compiles anything missed the cache.
  test("rounds 2 and 3 of the 22 TPC-H queries compile no class") {
    val tpch = SparkEntry.queries.toSeq.filter(_._1.matches("q[0-9]+_.*")).sortBy(_._1)
    assert(tpch.length == 22)
    // classes compiled per query, for those that compiled any
    def round(): Map[String, Long] = tpch.map { case (name, fn) =>
      val before = Bench.compiles()._1
      fn(spark, PlanShapeSpec.SfDir).collect()
      name -> (Bench.compiles()._1 - before)
    }.filter(_._2 > 0).toMap
    val aqe = "spark.sql.adaptive.enabled"
    spark.conf.set(aqe, "false")
    val rounds = try Seq.fill(3)(round()) finally spark.conf.unset(aqe)
    assert(rounds.tail == Seq(Map.empty, Map.empty),
      s"classes compiled per round: ${rounds.map(_.values.sum)}; repeats by query: ${rounds.tail}")
  }
}
