package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The benchmark timer's contract: the two JSON lines BASELINE's
  * "within 2x" rule reads. */
class BenchSpec extends SparkSpec {

  private val builds: Map[String, Bench.Build] = Map(
    "a_range" -> ((s, _) => s.range(100).toDF()),
    "b_doubled" -> ((s, _) => s.range(50).selectExpr("id * 2 AS x")),
    "c_throws" -> ((_, _) => throw new IllegalStateException("no such table")))

  private lazy val results = Bench.time(spark, "unused", Bench.select(builds, None))

  private def keys(line: String): Set[String] = parse(line) match {
    case JObject(fields) => fields.map(_._1).toSet
    case other => fail(s"not a JSON object: $other")
  }

  test("a failing query reads -1, is listed in failed, and is left out of the total") {
    val Seq(detail, summary) = Bench.lines(results, filtered = false, "sfX")
    val d = parse(detail)
    val times = d \ "queries" match {
      case JObject(qs) => qs.map { case (k, JDouble(v)) => k -> v; case (k, v) => fail(s"$k: $v") }.toMap
      case other => fail(s"queries is not an object: $other")
    }
    assert(times.keySet === builds.keySet)
    assert(times("c_throws") === -1.0)
    assert(times("a_range") > 0 && times("b_doubled") > 0)
    Seq(d, parse(summary)).foreach { line =>
      assert((line \ "failed") === JArray(List(JString("c_throws"))))
      assert((line \ "value") === JDouble(times("a_range") + times("b_doubled")))
    }
    assert((parse(summary) \ "n_queries") === JInt(3))
  }

  test("the detail line then the summary line, with exactly the contract keys") {
    val lines = Bench.lines(results, filtered = false, "sfX")
    assert(lines.size === 2)
    assert(keys(lines(0)) === Set("metric", "value", "unit", "queries", "failed", "sf"))
    assert(keys(lines(1)) === Set("metric", "value", "unit", "n_queries", "failed", "sf"))
    assert((parse(lines(0)) \ "metric") === JString("total"))
    assert((parse(lines.last) \ "metric") === JString("summary"))
    lines.foreach { l =>
      assert((parse(l) \ "unit") === JString("sec"))
      assert((parse(l) \ "sf") === JString("sfX"))
    }
  }

  test("a filtered run marks both lines filtered") {
    val picked = Bench.select(builds, Some(Set("a_range")))
    assert(picked.map(_._1) === Seq("a_range"))
    val lines = Bench.lines(Bench.time(spark, "unused", picked), filtered = true, "sfX")
    lines.foreach { l =>
      assert(keys(l).contains("filtered"))
      assert((parse(l) \ "filtered") === JBool(true))
    }
    assert((parse(lines.last) \ "n_queries") === JInt(1))
  }

  test("a filter naming an unknown query is rejected") {
    val e = intercept[RuntimeException](Bench.select(builds, Some(Set("a_range", "a_rnage"))))
    assert(e.getMessage.contains("a_rnage"))
  }
}
