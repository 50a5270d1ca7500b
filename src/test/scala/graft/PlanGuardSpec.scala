package graft

/** Cross-cutting regression nets over the WHOLE registered query
  * surface — cheap global invariants a per-module spec can't see.
  */
class PlanGuardSpec extends SparkSpec {

  test("query and oracle registries are collision-free and consistent") {
    // SparkEntry flattens module maps with toMap, which would silently
    // SHADOW a duplicate name (two modules registering q_x = one wins,
    // the other's oracle checks the wrong plan)
    val qNames = SparkEntry.modules.flatMap(_.queries.keys)
    val qDup = qNames.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(qDup.isEmpty, s"duplicate query names across modules: $qDup")
    val oNames = SparkEntry.modules.flatMap(_.oracleSql.keys)
    val oDup = oNames.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(oDup.isEmpty, s"duplicate oracle names across modules: $oDup")
    // an oracle without a query is dead weight that LOOKS like coverage
    val orphans = oNames.toSet -- qNames.toSet
    assert(orphans.isEmpty, s"oracle SQL with no registered query: $orphans")
    // the driver treats oracle-less queries as weaker rows-only checks —
    // keep that set explicitly empty so nothing regresses to it silently
    val unoracled = qNames.toSet -- oNames.toSet
    assert(unoracled.isEmpty,
      s"queries without oracle SQL (rows-only check): $unoracled")
  }

  test("the entry query returns rows") {
    // SparkEntry.entry is the contract's smoke check: rows > 0
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // The one query whose SEMANTICS are a cross product.
  private val allowCartesian = Set("q_join_cross")

  test("no registered query plans a non-broadcast cartesian product") {
    // CartesianProductExec is the unconditioned fact×fact scale-killer;
    // broadcast-one-row cross joins (scalar attachment) plan as
    // BroadcastNestedLoopJoin and stay allowed. Plans are BUILT, not
    // executed — but building streaming-drain queries materializes
    // their standing artifact once (same as any memoized artifact).
    val sf = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct") && !allowCartesian(name)) Some(name)
      else None
    }
    assert(bad.isEmpty, s"cartesian product in: $bad")
  }

  test("no registered query falls back to interpreted eval (codegen compiles)") {
    // A Janino compile failure (e.g. a generated method past the 64 KB
    // JVM limit) is logged once and silently drops the whole-stage
    // subtree to interpreted eval — which does no common-subexpression
    // elimination and can hide an O(n²) (the round-12 100× lesson, and
    // the round-12 bench tail's unexplained Janino stack: the multiprobe
    // Generate node's inlined rank ladder). Running every query with
    // codegen fallback DISABLED turns that silent degradation into a
    // loud test failure. The noop sink computes every column of every
    // row (count() could prune the failing subtree away).
    val sf = "/root/testdata/sf0.001"
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try {
          fn(spark, sf).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      }
      assert(bad.isEmpty, s"codegen-fallback (or execution) failures:\n${bad.mkString("\n")}")
    } finally {
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("query construction is action-free once shared artifacts are warm") {
    // Interactive sessions and bench passes CONSTRUCT queries far more
    // often than they execute them — any driver action at build time
    // (an unmemoized count()/head(), an eager re-write) multiplies by
    // every construction. First pass warms every memoized artifact
    // (jobs allowed); the second pass must plan without running a
    // single job.
    // q_dedup_index_append is a MAINTENANCE operation: constructing it
    // IS the commit attempt, whose idempotent no-op path deliberately
    // runs one batch-sized anti-join probe against the standing index.
    // A fresh session (Caches keys by session, so the shared session's
    // artifacts may already be warm) and sorted passes: the append's
    // first, non-empty merge — a Caches.replace — always lands mid-way
    // through the warm pass, so an artifact it evicted beyond its own
    // would show up as a job on the second pass.
    val maintenance = Set("q_dedup_index_append")
    val sf = "/root/testdata/sf0.001"
    val fresh = Tables.prep(spark.newSession())
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    try {
      sorted.foreach { case (_, fn) => fn(fresh, sf) }
      val sc = fresh.sparkContext
      sorted.foreach { case (name, fn) =>
        sc.setJobGroup(s"construct-$name", "PlanGuardSpec action-free check")
        try fn(fresh, sf) finally sc.clearJobGroup()
      }
      // the status store is fed by the async listener bus — let it drain
      Thread.sleep(2000)
      val offenders = sorted.flatMap { case (name, _) =>
        val n = sc.statusTracker.getJobIdsForGroup(s"construct-$name").length
        if (n > 0 && !maintenance(name)) Some(s"$name($n)") else None
      }
      assert(offenders.isEmpty,
        s"query construction ran jobs on the warm pass: ${offenders.mkString(", ")}")
    } finally Caches.clear(fresh)
  }
}
