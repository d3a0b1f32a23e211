package graft

import scala.collection.mutable.ListBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `graft.tools.Profile`: two timed reps per query with their codegen
  * compiles, job and microbatch lines tagged with their query, one
  * final-plan block per query, and a failure count that makes an
  * unknown name loud.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("Profile prints reps, job and batch lines, one plan per query") {
    val qs = Seq("q73_stream_hourly", "q05_star_revenue")
    val lines = ListBuffer.empty[String]
    val failed = Profile.run(spark, sf, qs :+ "q_no_such_query",
      l => lines.synchronized { lines += l })
    assert(failed == 1)
    // compile_ms sums a sampled histogram, which a JVM past 1,028
    // compiles (this suite's, by now) no longer holds whole
    val rep = ("""\[rep\] (\S+) rep(\d) construct=[0-9.]+ s execute=[0-9.]+ s """ +
      """compiles=\d+ compile_ms=-?\d+""").r
    val reps = lines.toSeq.collect { case rep(q, r) => (q, r.toInt) }
    assert(reps == qs.flatMap(q => Seq(q -> 1, q -> 2)))
    qs.foreach { q =>
      assert(lines.exists(_.startsWith(s"[job] $q rep")), q)
      assert(lines.count(_ == s"========== $q final adaptive plan ==========")
        == 1, q)
    }
    assert(lines.exists(_.matches(
      """\[batch\] q73_stream_hourly rep\d id=\d+ rows=\d+ durationMs=.*""")))
    assert(lines.contains("[fail] q_no_such_query: unknown query"))
    assert(!lines.exists(_.contains("q_no_such_query final adaptive plan")))
  }
}
