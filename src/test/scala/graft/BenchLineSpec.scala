package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Bench's stdout contract: one JSON object, family subtotals, and the
  * per-query map in ascending-cost order. */
class BenchLineSpec extends AnyFunSuite {
  private val results = Seq(
    "q108_pagerank" -> 3.0, "q47_components" -> 1.0,
    "q73_training_pipeline" -> 9.0,
    "q164_lsh_lifecycle" -> 2.5,
    "q2_knn" -> 0.5,
    "q20_minhash_lsh" -> 4.0,
    "q1_filter" -> 0.25)

  private val json = new ObjectMapper().readTree(Bench.line(results, "/d/sf"))

  test("the line parses as one JSON object with the contract's keys") {
    assert(json.isObject)
    assert(json.fieldNames.asScala.toSeq ==
      Seq("metric", "value", "unit", "n", "subtotals", "queries", "sf"))
    assert(json.get("metric").asText == "total")
    assert(json.get("value").asDouble == results.map(_._2).sum)
    assert(json.get("unit").asText == "sec")
    assert(json.get("n").asInt == results.size)
    assert(json.get("sf").asText == "/d/sf")
  }

  test("the query map is in ascending-cost order") {
    val qs = json.get("queries")
    assert(qs.fieldNames.asScala.toSeq == results.sortBy(_._2).map(_._1))
    results.foreach { case (k, v) => assert(qs.get(k).asDouble == v) }
  }

  test("family subtotals: one name in each family") {
    val subs = json.get("subtotals")
    def fam(f: String) = (subs.get(f).get("sec").asDouble, subs.get(f).get("n").asInt)
    assert(subs.fieldNames.asScala.toSeq ==
      Seq("dedup", "graph", "lifecycle", "pipelines", "rest", "serving"))
    assert(fam("graph") == ((4.0, 2)))
    assert(fam("pipelines") == ((9.0, 1)))
    assert(fam("lifecycle") == ((2.5, 1)))
    assert(fam("serving") == ((0.5, 1)))
    assert(fam("dedup") == ((4.0, 1)))
    assert(fam("rest") == ((0.25, 1)))
  }
}
