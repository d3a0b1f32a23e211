package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Trace

/** `graft.tools.Trace` files every task under the tag of the window
  * that ran it: on the stream thread, in the broadcast pool and under
  * AQE's stage jobs alike, checked against a plain task-end counter over
  * the same drained window. Work outside a window lands under no tag.
  */
class TraceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  // the benchmark's committed copy of the sf0.001 test tables
  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  private def taskEnds(body: => Any): Long = SparkTestSession.taskEnds(body)._2

  private def withTrace[T](f: Trace => T): T = {
    val t = new Trace(spark)
    try f(t) finally t.close()
  }

  /** Runs `df` under `tag`; its record, once every task of the window
    * is checked to be in it. */
  private def traced(trace: Trace, tag: String)(
      df: => DataFrame): Trace.Rec = {
    val ended = taskEnds(trace.tagged(tag)(df.collect()))
    val rec = trace.take(tag)
    assert(ended > 0, tag)
    assert(rec.tasks.tasks == ended, s"$tag: traced ${rec.tasks.tasks}, ended $ended")
    assert(rec.jobs.values.map(_.tasks).sum == ended, tag)
    rec
  }
  private def query(q: String) = SparkEntry.queries(q)(spark, sf)

  test("a streaming, a broadcast and an AQE shuffle query: every task under its tag") {
    withTrace { trace =>
      // microbatch jobs run on the stream thread
      val stream = traced(trace, "stream")(query("q73_stream_hourly"))
      assert(stream.batches.nonEmpty)
      // the broadcast side's job runs in the broadcast pool
      val bc = traced(trace, "broadcast")(query("q05_star_revenue"))
        .plan.map(_.toString)
      assert(bc.exists(_.contains("BroadcastHashJoin")), bc)
      // with broadcasts off, a shuffle join whose stages AQE submits
      SparkTestSession.withConf(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val aqe = traced(trace, "aqe") {
          val o = Tables.orders(spark, sf)
          Tables.lineitem(spark, sf)
            .join(o, o("o_orderkey") === col("l_orderkey"))
            .groupBy("o_orderpriority").count()
        }.plan.map(_.toString)
        assert(aqe.exists(p => p.contains("ShuffleQueryStage") &&
          p.contains("SortMergeJoin")), aqe)
      }
    }
  }

  test("an untagged job between two tagged windows lands under no tag") {
    val sc = spark.sparkContext
    def job(partitions: Int): Long = sc.parallelize(1 to 100, partitions).count()
    withTrace { trace =>
      val a = taskEnds(trace.tagged("a")(job(3)))
      assert(sc.getLocalProperty(Trace.Key) == null)
      val untagged = taskEnds(job(5))
      val b = taskEnds(trace.tagged("b")(job(2)))
      assert((a, untagged, b) == ((3L, 5L, 2L)))
      val (ra, rb) = (trace.take("a"), trace.take("b"))
      assert(ra.tasks.tasks == 3 && ra.jobs.values.toSeq.map(_.tasks) == Seq(3L))
      assert(rb.tasks.tasks == 2 && rb.jobs.values.toSeq.map(_.tasks) == Seq(2L))
      assert(trace.take("").jobs.isEmpty)
    }
  }
}
