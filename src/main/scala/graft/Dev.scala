package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Fingerprints

/** Diagnostic tool; not part of the query contract (SparkEntry,
  * Verify, Bench, ScaleStress).
  *
  * {{{
  * runMain graft.Dev plan <sfDir> <q1,q2,...> [spark.x=y ...]
  * runMain graft.Dev leg <q1,q2,...> [spark.x=y ...]
  * runMain graft.Dev artifacts <sfDir> [spark.x=y ...]
  * }}}
  *
  *  - `plan` executes each query's own QueryExecution and prints its
  *    final adaptive plan (isFinalPlan=true: runtime join swaps,
  *    AQEShuffleReads and reused exchanges included).
  *  - `leg` times each query's ScaleStress cost leg on the existing
  *    `target/scale10` and `target/scale100` fixtures (run ScaleStress
  *    first) and prints both times and their ratio.
  *  - `artifacts` times each materialized corpus artifact build on its
  *    own — the chain Bench reports in aggregate as `prep`.
  *
  * Every subcommand runs on the one graft session; `leg` adds
  * [[ScaleStress.gateConf]], so each reproduces the numbers of the main
  * it diagnoses. Trailing `spark.x=y` arguments set runtime SQL conf, e.g.
  * `spark.sql.autoBroadcastJoinThreshold=-1` for the join shapes a
  * too-big-to-broadcast build side forces at scale.
  */
object Dev {
  private val Usage =
    "usage: graft.Dev plan <sfDir> <q,...> | leg <q,...> | artifacts <sfDir>  [spark.x=y ...]"

  def main(args: Array[String]): Unit = {
    val (confArgs, cmd) = args.toList.partition(_.matches("spark\\.[^=]+=.*"))
    val run: SparkSession => Unit = cmd match {
      case List("plan", sfDir, names) => plan(_, sfDir, names)
      case List("leg", names) => leg(_, names)
      case List("artifacts", sfDir) => artifacts(_, sfDir)
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val spark = Session.start(Session.cpus(sys.env))
    confArgs.foreach { kv =>
      val i = kv.indexOf('=')
      spark.conf.set(kv.substring(0, i), kv.substring(i + 1))
    }
    try run(spark) finally spark.stop()
  }

  private def queries(list: String): Seq[(String, (SparkSession, String) => DataFrame)] =
    list.split(",").toSeq.map { n =>
      n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query: $n"))
    }

  private def plan(spark: SparkSession, sfDir: String, names: String): Unit =
    queries(names).foreach { case (n, fn) =>
      val df = fn(spark, sfDir)
      // Execute THIS df's own QueryExecution: count() or a noop write
      // replans into a fresh QueryExecution whose adaptive plan
      // finalizes invisibly, leaving this one at isFinalPlan=false.
      val (_, dt) = timed(df.queryExecution.toRdd.count())
      val plan = df.queryExecution.executedPlan.toString.trim
      println(f"## $n (run $dt%.2f s)\n\n```\n$plan\n```\n")
    }

  private def leg(spark: SparkSession, names: String): Unit = {
    val (d10, d100) = ("target/scale10", "target/scale100")
    Seq(d10, d100).foreach { d =>
      require(new java.io.File(d).isDirectory, s"$d missing: run graft.ScaleStress first")
    }
    ScaleStress.gateConf(spark)
    queries(names).foreach { case (q, _) =>
      val t10 = ScaleStress.timedLeg(spark, d10, q, ScaleStress.GateParts)
      val t100 = ScaleStress.timedLeg(spark, d100, q, 128)
      println(f"LEG $q t10=$t10%.1f s t100=$t100%.1f s ratio=${t100 / t10}%.1f")
    }
  }

  private def artifacts(spark: SparkSession, sfDir: String): Unit = {
    def t(name: String)(f: => Long): Unit = {
      val (n, secs) = timed(f)
      println(f"PROF $name%-18s $secs%8.2f s  ($n rows)")
    }
    t("scan_only")(Tables.documents(spark, sfDir).count())
    t("shingle_raw")(Fingerprints.shingleIndex(spark, sfDir).count())
    t("postings")(Fingerprints.postings(spark, sfDir).count())
    t("minhash_cands")(Fingerprints.candidatePairs(spark, sfDir).count())
    t("confirmed_pairs")(Fingerprints.confirmedPairs(spark, sfDir).count())
  }
}
