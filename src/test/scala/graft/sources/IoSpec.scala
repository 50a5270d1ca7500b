package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** CSV round-trip (reference golden-file test `tests/io/test_csv.py:
  * 173-192`) + positional gather.
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  test("golden-file read: reference df1.csv fidelity (test_csv.py:12-19)") {
    // Same shape as the reference fixture `tests/io/files/df1.csv`: an
    // UNNAMED index column (pandas calls it 'Unnamed: 0'; Spark '_c0'),
    // int64 'a', float64 'b' — schema inference must recover the types.
    val path = getClass.getResource("/io/df1.csv").getPath
    val df = Io.readCsv(spark, path).withColumnRenamed("_c0", "idx")
    assert(df.columns.toSeq == Seq("idx", "a", "b"))
    val schema = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
    assert(schema("a") == "int" && schema("b") == "double", schema)
    assertFrame(df.orderBy("idx"),
      (2 to 6).map(i => Seq(i, i - 2, (i - 1).toDouble)))
  }

  test("to_csv golden bytes: header and row formatting (test_csv.py:21-33)") {
    val dir = tmpDir("graft_csv_gold") + "/out"
    val df = Seq((2L, 0L, 1.0), (3L, 1L, 2.0)).toDF("idx", "a", "b")
    Io.writeCsv(df.coalesce(1), dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv")).head.toPath
    val lines = java.nio.file.Files.readAllLines(part)
    assert(lines.get(0) == "idx,a,b", lines.get(0))
    assert(lines.get(1) == "2,0,1.0", lines.get(1))
    assert(lines.get(2) == "3,1,2.0", lines.get(2))
  }

  test("csv round-trip preserves values with header and custom sep") {
    val dir = tmpDir("graft_csv") + "/out"
    val df = Seq((2L, 0L, 1.0), (3L, 1L, 2.0), (4L, 2L, 3.0)).toDF("idx", "a", "b")
    Io.writeCsv(df, dir, sep = ";")
    val back = Io.readCsv(spark, dir, sep = ";").orderBy("idx")
    assertFrame(back, Seq(Seq(2L, 0L, 1.0), Seq(3L, 1L, 2.0), Seq(4L, 2L, 3.0)))
  }

  test("readCsv skiprows drops preamble lines before the header (csv.py:16,39)") {
    // the pandas shape: N junk preamble lines, THEN the header, then data
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_skip")
    val f = dir.resolve("data.csv")
    java.nio.file.Files.write(f, java.util.Arrays.asList(
      "# exported 2026-08-14", "# source: unit-test",
      "idx,a,b", "2,0,1.0", "3,1,2.0", "4,2,3.0"))
    val df = Io.readCsv(spark, f.toString, skiprows = 2)
    assert(df.columns.toSeq == Seq("idx", "a", "b"))
    assertFrame(df.orderBy("idx"),
      Seq(Seq(2, 0, 1.0), Seq(3, 1, 2.0), Seq(4, 2, 3.0)))
    // headerless variant: skiprows drops data lines themselves
    val noHeader = Io.readCsv(spark, f.toString, header = false,
      names = Seq("idx", "a", "b"), skiprows = 4)
    assertFrame(noHeader.orderBy("idx"),
      Seq(Seq(3, 1, 2.0), Seq(4, 2, 3.0)))
    Seq(f, dir).foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("readCsv usecols + nrows subset") {
    val dir = tmpDir("graft_csv2") + "/out"
    Io.writeCsv(Seq((1, "x", 9.0), (2, "y", 8.0), (3, "z", 7.0)).toDF("a", "b", "c"), dir)
    val back = Io.readCsv(spark, dir, usecols = Seq("a", "c"))
    assert(back.columns.toSeq == Seq("a", "c"))
    assert(Io.readCsv(spark, dir, nrows = Some(2)).count() == 2)
  }

  test("parquet round-trip") {
    val dir = tmpDir("graft_pq") + "/out"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Io.writeParquet(df, dir)
    assert(Io.readParquet(spark, dir).orderBy("k").collect().map(_.getString(1)).toSeq
      == Seq("a", "b"))
  }

  test("partitioned write + filter read prunes partitions at the source") {
    val dir = tmpDir("graft_part") + "/out"
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("C", 4.0)).toDF("flag", "v")
    df.write.partitionBy("flag").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("flag") === "A")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(flag"), plan)
    assert(q.count() == 2)
  }

  test("bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1 to 100).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      val dims = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("k", "name")
      Io.bucketedParquet(facts, "graft_bf", "k", buckets = 4)
      Io.bucketedParquet(dims, "graft_bd", "k", buckets = 4)
      val joined = spark.table("graft_bf").join(spark.table("graft_bd"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == 100)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bf")
      spark.sql("DROP TABLE IF EXISTS graft_bd")
    }
  }

  test("gather fetches rows at arbitrary positions; OOB positions drop") {
    // q_iloc_gather asks for 31337, 0, 59999, 7 and 1234; sf0.001
    // lineitem ends before 31337, so the two larger positions match nothing.
    val dir = "/root/testdata/sf0.001"
    assert(graft.Tables.rows(spark, dir, "lineitem") <= 31337L)
    val out = graft.SparkEntry.queries("q_iloc_gather")(spark, dir)
      .collect().map(_.getAs[Long]("ord")).toSeq
    assert(out == Seq(0L, 7L, 1234L))
  }

  test("compaction rewrites a fragmented dataset into few sorted bounded files") {
    val base = tmpDir("compact")
    val frag = s"$base/frag"
    val tidy = s"$base/tidy"
    // fragment: 5000 rows sprayed across 40 files
    spark.range(5000).toDF("id").repartition(40)
      .write.mode("overwrite").parquet(frag)
    def parts(p: String) = new java.io.File(p).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(frag).length == 40)
    // compact to 4 range files capped at 2000 rows each
    Io.compactedParquet(spark.read.parquet(frag), tidy, "id", 4, 2000L)
    val outFiles = parts(tidy)
    assert(outFiles.length >= 4 && outFiles.length <= 7,
      s"got ${outFiles.length} files")
    // data intact, and every file's rows fit the cap
    val back = spark.read.parquet(tidy)
    assert(back.count() == 5000L)
    assert(back.select("id").distinct().count() == 5000L)
    val perFile = back
      .select(col("id"), org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .groupBy("f").count().collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 2000L), perFile.mkString(","))
  }

  test("stream scratch dirs are session-scoped: a second session in the " +
      "same JVM leaves no orphans after its caches clear") {
    import java.nio.file.Files
    import graft.Scratch
    import graft.queries.{Fingerprints, IoQ, StreamingQ}
    val sf = graft.PlanShapeSpec.SfDir
    // Two sessions in one JVM (the long-lived-driver shape): each
    // allocates scratch; clearing ONE session's caches reclaims exactly
    // its dirs and leaves the other's intact — the contract that
    // replaced the deleteOnExit no-op (which parked every drain's
    // parquet in /tmp until process exit).
    val s2 = graft.Tables.prep(spark.newSession())
    val a = Scratch.dirFor(spark, "compact_probe")
    val b = Scratch.dirFor(s2, "compact_probe")
    Files.write(a.resolve("x.parquet"), Array[Byte](1, 2))
    Files.write(b.resolve("x.parquet"), Array[Byte](3, 4))
    // a query's write-once sink is session scratch too: the CSV round
    // trip's dir is tracked for s2 and goes with its clear
    IoQ.qCsvRoundtrip(s2, sf).collect()
    val csv = Scratch.tracked(s2).filter(p => Files.exists(p.resolve("nation")))
    assert(csv.nonEmpty, s"CSV sink not tracked for its session: ${Scratch.tracked(s2)}")
    graft.Caches.clear(s2)
    assert(!Files.exists(b), "second session's dir orphaned")
    assert(csv.forall(!Files.exists(_)), s"CSV sink orphaned: $csv")
    assert(Scratch.tracked(s2).isEmpty)
    assert(Files.exists(a.resolve("x.parquet")),
      "first session's dir must survive the other session's clear")
    graft.Caches.clear(spark)
    assert(!Files.exists(a))
    // Only clear releases: the append's first, non-empty merge after a
    // clearAll replaces its own artifact and nothing else, so the
    // drains' memoized sinks stand and re-constructing them allocates
    // no new dirs.
    graft.Caches.clearAll()
    def drains(): Unit = {
      StreamingQ.qStreamUpsert(spark, sf)
      StreamingQ.qStreamShardSink(spark, sf)
      StreamingQ.qSinkCompaction(spark, sf); ()
    }
    drains()
    val before = Scratch.tracked(spark)
    Fingerprints.qDedupIndexAppend(spark, sf).collect()
    drains()
    assert(Scratch.tracked(spark).toSet == before.toSet,
      s"the append grew the session's scratch: ${before.size} -> ${Scratch.tracked(spark).size} dirs")
  }
}
