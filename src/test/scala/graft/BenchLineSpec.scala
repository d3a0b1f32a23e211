package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's driver line (`Bench.jsonLine`): every query under its full
  * name while that fits, else the budget map — always one parseable
  * line within the driver's window, always carrying its evidence keys.
  */
class BenchLineSpec extends AnyFunSuite {
  private def results(n: Int): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(7)
    (1 to n).map(i => f"q$i%03d_synthetic_query_$i" -> rnd.nextDouble() * 9)
  }
  private val retimed = """{"q001":[1.23,1.19,4,5],"q002":[0.5,0.47,0,1]}"""
  private val extras = ""","diag":{"q001":[0,0,12,400,380,64,1,1]}""" +
    ""","calib":[1.21,1.24,1.22],"load":[3.5,3.9,3.6]""" +
    ""","warm":{"li":[0.4,0],"esig":[2.3,1],"rest":[9,0.3]}"""
  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("a small registry: every query under its full name at 3 decimals") {
    val rs = results(10)
    val line = Bench.jsonLine(rs, retimed, extras, Nil, "/data/sf0.1")
    val qs = parse(line).get("queries")
    assert(qs.size == 10)
    rs.foreach { case (k, v) =>
      assert(qs.get(k).asText == (math.round(v * 1000) / 1000.0).toString, k)
    }
    assert(!line.contains("queries_omitted"))
  }

  test("the full registry: a budget map within 1800 chars, evidence kept") {
    val line = Bench.jsonLine(results(378), retimed, extras,
      Seq("q002_synthetic_query_2"), "/data/sf0.1")
    assert(line.length <= 1800)
    val j = parse(line)
    assert(j.fieldNames.asScala.toSeq.take(5) ==
      Seq("metric", "value", "unit", "n_queries", "queries"))
    Seq("errors", "retimed", "warm", "calib").foreach(k => assert(j.has(k), k))
    assert(j.get("errors").get(0).asText == "q002_synthetic_query_2")
    assert(j.get("n_queries").asInt == 378)
    assert(j.get("queries").size + j.get("queries_omitted").asInt == 378)
  }
}
