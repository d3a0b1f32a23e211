package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's retime policy (`Bench.retimes`): which queries get a second
  * pass, which a fresh-JVM third pass, and which second passes are
  * suspect — all derived from pass 1, pass 2 and the history records.
  */
class BenchRetimeSpec extends AnyFunSuite {
  /** `n` queries at 10 s each, on their records: the rank net alone. */
  private def heavy(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => f"h$i%02d" -> 10.0)
  private val heavyRecords = heavy(16).toMap

  test("the 16 slowest pass-1 queries always get a second pass") {
    val pass1 = (1 to 20).map(i => f"q$i%02d" -> i.toDouble)
    val hist = pass1.toMap // every query exactly on its record
    val r = Bench.retimes(pass1, Map.empty, hist)
    assert(r.second == (5 to 20).map(i => f"q$i%02d").toSet)
    assert(r.recordBlown.isEmpty)
    assert(Bench.retimes(pass1, Map.empty, Map.empty).second == r.second)
  }

  test("outside the top 16: a second pass at ≥ 0.75 s and > 3× the record") {
    val pass1 = heavy(16) ++ Seq("blown" -> 0.9, "at3x" -> 1.5, "fast" -> 0.7,
      "norec" -> 5.0)
    val hist = heavyRecords ++ Map("blown" -> 0.2, "at3x" -> 0.5,
      "fast" -> 0.01)
    val r = Bench.retimes(pass1, Map.empty, hist)
    assert(r.recordBlown == Seq("blown"))
    assert(r.second == heavyRecords.keySet + "blown")
    // a query with no record gets one only by rank
    assert(!r.second("norec"))
    assert(Bench.retimes(pass1.filterNot(_._1 == "h01"), Map.empty, hist)
      .second("norec"))
  }

  test("blown: the 0.75 s floor, a strict ratio, and no record never blows") {
    assert(Bench.blown(0.75, Some(0.2), 3))
    assert(!Bench.blown(0.74, Some(0.01), 3))
    assert(!Bench.blown(1.5, Some(0.5), 3))
    assert(!Bench.blown(1000.0, None, 3))
  }

  test("fresh JVM: in-session min blown at 5×, the 6 worst by t/record") {
    // ratios 5.5 .. 12.5 on pass 1; "recovered" is blown on pass 1 only
    val ratios = (1 to 8).map(i => f"b$i" -> (4.5 + i))
    val pass1 = ratios ++ Seq("recovered" -> 20.0, "at5x" -> 5.0, "under" -> 0.7)
    val hist = ratios.map(_._1 -> 1.0).toMap ++
      Map("recovered" -> 1.0, "at5x" -> 1.0, "under" -> 0.01)
    val pass2 = Map("recovered" -> 2.0, "b8" -> 30.0)
    val r = Bench.retimes(pass1, pass2, hist)
    assert(r.fresh == Seq("b8", "b7", "b6", "b5", "b4", "b3"))
    assert(Bench.retimes(pass1, Map.empty, hist).fresh.head == "recovered")
  }

  test("suspect: any second-passed query whose pass 2 took > 2× pass 1") {
    val pass1 = Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
    val pass2 = Map("a" -> 2.5, "b" -> 2.0, "c" -> 0.5)
    assert(Bench.retimes(pass1, pass2, Map.empty).suspect == Seq("a"))
  }

  test("r21 replay: the record rule catches what the hand list never did") {
    val mapper = new ObjectMapper()
    val line = mapper.readTree(new java.io.File("BENCH_r21.json")).get("parsed")
    val hist = mapper.readTree(new java.io.File("tools/bench_history.json"))
      .properties.asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    def full(k: String) =
      if (hist.contains(k)) k else hist.keys.find(_.startsWith(k + "_")).get
    def firsts(key: String) = line.get(key).properties.asScala
      .map(e => full(e.getKey) -> e.getValue.get(0).asDouble).toMap
    // published pass-1 times: the two passes' first elements, else the
    // line's min (pass 1 for every query that was not re-timed)
    val p1 = line.get("queries").properties.asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap ++
      firsts("suspect_gc") ++ firsts("retimed")
    val second = Bench.retimes(p1.toSeq.sorted, Map.empty, hist).second
    val want = Seq("q94", "q96", "q97", "q312", "q314", "q327", "q291",
      "q267").map(full)
    val handOnly = Seq("gen_pattern_detect", "q03", "q04", "q242", "q243",
      "q253").map(full)
    assert(want.filterNot(second) == Nil)
    assert(handOnly.filter(second) == Nil)
  }
}
