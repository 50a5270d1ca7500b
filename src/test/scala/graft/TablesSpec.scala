package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.load` opens each relation with the schema of its parquet
  * footer, read on the driver: the schema must be the one `spark.read`
  * infers, for the testdata's single files and for Spark-written
  * directories, `Tables.rows` must equal the row count `spark.read`
  * finds, and registering the tables or counting their rows must run
  * no Spark job.
  */
class TablesSpec extends SparkSpec {

  private def inferred(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet").schema

  test("footer schema equals the inferred schema for every testdata table") {
    for (dir <- Seq(PlanShapeSpec.SfDir, "/root/testdata/sf0.001");
         name <- Tables.names) {
      assert(Tables.load(spark, dir, name).schema == inferred(dir, name),
        s"$dir/$name")
      assert(Tables.rows(spark, dir, name) ==
        spark.read.parquet(s"$dir/$name.parquet").count(), s"$dir/$name rows")
    }
  }

  /** A Spark-written 3-file directory `mixed.parquet` of 30 rows over
    * every column type the testdata uses, with the `_SUCCESS` marker
    * and `.crc` checksums the write leaves.
    */
  private lazy val mixedDir: String = {
    val dir = tmpDir("tables")
    spark.range(30).selectExpr(
      "cast(id as int) as i", "id as l", "cast(id as short) as sh",
      "cast(id as byte) as b", "cast(id as decimal(38,0)) as d38",
      "cast(id / 4 as decimal(10,2)) as d10", "id / 3.0d as dbl",
      "cast(id as float) / 7 as f",
      "timestamp_micros(id * 1000003) as ts",
      "cast(timestamp_micros(id * 1000003) as timestamp_ntz) as ntz",
      "date_add(date'2020-01-01', cast(id as int)) as dt",
      "array(cast(id as float), 1.5f) as arr", "map('k', id) as m",
      "named_struct('a', id, 'b', cast(id as string)) as st",
      "cast(id as string) as s", "cast(cast(id as string) as binary) as bin",
      "id % 2 = 0 as flag")
      .repartition(3).write.parquet(s"$dir/mixed.parquet")
    dir
  }

  test("footer schema equals the inferred schema for a Spark-written 3-file directory") {
    val path = s"$mixedDir/mixed.parquet"
    assert(Files.list(Paths.get(path)).toArray
      .count(_.toString.endsWith(".parquet")) == 3)
    val df = Tables.load(spark, mixedDir, "mixed")
    assert(df.schema.length == 17)
    assert(df.schema == inferred(mixedDir, "mixed"))
    assert(df.count() == 30)
    assert(Tables.rows(spark, mixedDir, "mixed") == spark.read.parquet(path).count())
  }

  test("dataFiles of a Spark-written 3-file directory are exactly its part files") {
    val path = Paths.get(mixedDir, "mixed.parquet")
    val all = Files.list(path).toArray.map(_.toString.split('/').last).toSeq
    assert(all.contains("_SUCCESS") && all.exists(_.endsWith(".crc")), all)
    val names = Tables.dataFiles(path).map(_.getFileName.toString)
    assert(names == all.filter(_.startsWith("part-")).sorted, names)
    assert(names.length == 3 && names.forall(_.endsWith(".parquet")), names)
  }

  test("loading the ten tables and constructing q1_agg runs no Spark job") {
    val fresh = Tables.prep(spark.newSession())
    val sf = PlanShapeSpec.SfDir
    try {
      assert(jobs {
        Tables.names.foreach { n => Tables.load(fresh, sf, n); Tables.rows(fresh, sf, n) }
        SparkEntry.queries("q1_agg")(fresh, sf)
        Tables.events(fresh, sf)
      } == 0)
      val events = Tables.events(fresh, sf)
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.schema("ts_ns").dataType == LongType)
    } finally Caches.clear(fresh)
  }

  test("a directory with no data file fails naming the directory") {
    val dir = tmpDir("tables")
    val path = Paths.get(dir, "empty.parquet")
    Files.createDirectories(path)
    Files.write(path.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(path.resolve(".part-0.parquet.crc"), Array.emptyByteArray)
    val e = intercept[IllegalArgumentException](Tables.load(spark, dir, "empty"))
    assert(e.getMessage.contains(path.toString))
  }
}
