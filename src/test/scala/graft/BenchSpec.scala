package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

/** The records the mains print are a fixed contract: Bench's line (key
  * order, 2-decimal seconds, the self-sizing fold) and ScaleStress's
  * gate record (the keys of the committed SCALE_rNN.json files).
  */
class BenchSpec extends AnyFunSuite {

  private def line(heavy: Seq[(String, Double)], pooled: Seq[Double] = Nil,
      failed: Seq[String] = Nil, sfDir: String = "/data/sf0.01"): String =
    Bench.line(total = 12.345, qSum = 20.0, seqSum = 18.0, seqSumRaw = 19.0,
      seqWall = 8.0, poolWall = 4.345, prep = 30.5, codegenFallbacks = 0,
      heavy = heavy, pooled = pooled, failed = failed, load = (0.25, 3.5),
      cpus = 4, loadSkewed = false, anchor = true, sfDir = sfDir)

  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  test("300 entries fold into _other/_other_n and the line stays within 1750 characters") {
    val heavy = (0 until 300).map(i => f"q_query_$i%03d" -> (1.0 + i / 100.0))
    val out = line(heavy, pooled = Seq(0.5, 0.25))
    assert(out.length <= 1750, out.length)
    val qs = jsonMapper.readTree(out).get("queries")
    val shown = keys(qs).filterNot(_.startsWith("_other"))
    assert(shown.nonEmpty && shown.length < 300)
    assert(qs.get("_other_n").asInt == 300 - shown.length + 2)
    // the slowest entries stay, slowest first
    assert(shown == (299 to 0 by -1).map(i => f"query_$i%03d").take(shown.length))
  }

  test("the detail's codegen object holds each phase's compiles, in phase order") {
    val marks = Seq("start" -> (10L, 1000000000L), "prep" -> (560L, 9000000000L),
      "warmup" -> (2200L, 20500000000L), "seq" -> (2200L, 20500000000L),
      "timed" -> (2201L, 20750000000L))
    assert(jsonMapper.writeValueAsString(Bench.codegenDetail(marks)) ==
      """{"prep":{"classes":550,"janino_s":8.0},"warmup":{"classes":1640,"janino_s":11.5},""" +
      """"seq":{"classes":0,"janino_s":0.0},"timed":{"classes":1,"janino_s":0.25}}""")
  }

  test("a failed query prints -1.00 and is listed, sorted, in failed") {
    val out = line(Seq("q_slow" -> 2.5, "q_zbad" -> -1.0, "q_abad" -> -1.0),
      pooled = Seq(0.5, -1.0), failed = Seq("q_zbad", "q_pool_bad", "q_abad"))
    assert(out.contains(""""zbad":-1.00""") && out.contains(""""abad":-1.00"""), out)
    assert(out.contains(""""value":12.35,"""), out)
    val n = jsonMapper.readTree(out)
    assert(keys(n) == Seq("metric", "value", "unit", "protocol", "q_sum",
      "seq_sum", "seq_sum_raw", "seq_wall", "pool_wall", "pool", "prep",
      "codegen_fallbacks", "queries", "failed", "load", "cpus", "anchor", "sf"))
    assert(n.get("failed").elements.asScala.map(_.asText).toSeq ==
      Seq("q_abad", "q_pool_bad", "q_zbad"))
    // failures add nothing to _other: it is the one successful pooled run
    assert(out.contains(""""_other":0.50,"_other_n":2"""), out)
  }

  test("an sf dir with a quote and a backslash round-trips as a JSON string") {
    val dir = "/data/we\"ird\\corpus"
    val sf = jsonMapper.readTree(line(Seq("q_a" -> 1.0), sfDir = dir)).get("sf")
    assert(sf.isTextual && sf.asText == dir)
  }

  test("an sf dir ending in sf0.1 prints the number 0.1") {
    val out = line(Seq("q_a" -> 1.0), sfDir = "/root/testdata/sf0.1/")
    assert(out.endsWith(""","sf":0.1}"""), out)
    assert(jsonMapper.readTree(out).get("sf").isNumber)
  }

  test("the ScaleStress gate record keeps the committed record's keys") {
    val dir = "target/sc\"ale10"
    val out = ScaleStress.record(dir, 1592.34,
      Seq("ordinal_density_orders" -> (true -> 20.94), "scale100_cost_q" -> (false -> 3.0)),
      Seq("q_dedup_jaccard" -> (12.0 -> 96.0)))
    val n = jsonMapper.readTree(out)
    val r15 = jsonMapper.readTree(new java.io.File("SCALE_r15.json"))
    val r12 = jsonMapper.readTree(new java.io.File("SCALE_r12.json"))
    assert(keys(r15) == Seq("dir", "n_checks", "failures", "wall_sec", "checks"))
    assert(keys(n) == keys(r12) && keys(n).filterNot(_ == "scale100") == keys(r15))
    assert(keys(n.get("checks").get(0)) == keys(r15.get("checks").get(0)))
    assert(keys(n.get("scale100").get(0)) == keys(r12.get("scale100").get(0)))
    assert(n.get("dir").asText == dir)
    assert(n.get("n_checks").asInt == 2 && n.get("failures").asInt == 1)
    assert(out.contains("1592.3") && n.get("checks").get(0).get("secs").decimalValue ==
      new java.math.BigDecimal("20.9"))
    assert(n.get("scale100").get(0).get("ratio").decimalValue == new java.math.BigDecimal("8.0"))
  }
}
