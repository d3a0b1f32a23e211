package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the round-5 changes, independent of the DuckDB
  * oracle: append-mode watermark finalization must reproduce the batch
  * rollup, the native bloom probe must stay codegen'd and exact past the
  * old hardcoded capacity, and the streaming/bucketed harnesses must
  * leave the session catalog clean (the round-4 bench-interference fix).
  */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q94 append-mode watermark finalization equals the batch rollup") {
    val streamed = run("q94_stream_append").collect().map(_.toString).toSeq
    val batch = run("q22_hourly_windows").collect().map(_.toString).toSeq
    assert(streamed.nonEmpty, "append-mode query emitted nothing")
    assert(streamed == batch,
      s"streamed(${streamed.length}) != batch(${batch.length})")
  }

  test("q87 probe is a native codegen expression, not a ScalaUDF") {
    val p = run("q87_bloom_semi").queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), s"closure UDF back in the hot scan:\n$p")
    assert(p.contains("might_contain"), s"native bloom probe missing:\n$p")
  }

  test("bloom prefilter stays exact when the build side exceeds 1M keys") {
    import spark.implicits._
    // 2M-key dim (double the old hardcoded capacity): the filter is now
    // sized from the build-side count, so fpp holds by construction and
    // the semi-join keeps the result exact either way
    val dim = spark.range(0L, 2000000L).select(($"id" * 3L).as("k"))
    val fact = spark.range(0L, 30000L).select(($"id" * 7L).as("k"))
    val bf = ops.Scale.bloomBuild(dim, $"k")
    assert(bf.isDefined)
    val got = fact
      .filter(ops.Scale.bloomProbe(spark, bf, $"k"))
      .join(dim, Seq("k"), "left_semi")
      .agg(count(lit(1)), sum($"k")).collect().head
    val want = fact
      .join(dim, Seq("k"), "left_semi")
      .agg(count(lit(1)), sum($"k")).collect().head
    assert(got == want, s"bloom semi $got != plain semi $want")
  }

  test("empty build side yields an always-false probe, not a crash") {
    import spark.implicits._
    val dim = spark.range(0L, 10L).filter($"id" < 0L).select($"id".as("k"))
    val bf = ops.Scale.bloomBuild(dim, $"k")
    assert(bf.isEmpty)
    val n = spark.range(0L, 100L).select($"id".as("k"))
      .filter(ops.Scale.bloomProbe(spark, bf, $"k")).count()
    assert(n == 0L)
  }

  test("streaming + bucketed harnesses leave no tables/views behind") {
    // ... nor staged sources or checkpoints on disk: a returned query
    // keeps only what its result reads under target/graft_stream
    val stream = java.nio.file.Paths.get("target", "graft_stream")
    def roots(): Set[java.nio.file.Path] =
      if (!java.nio.file.Files.exists(stream)) Set.empty
      else scala.util.Using.resource(java.nio.file.Files.list(stream)) { fs =>
        import scala.jdk.CollectionConverters._
        fs.iterator().asScala.toSet
      }
    val rootsBefore = roots()
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    Seq("q73_stream_hourly", "q85_stream_sessions", "q92_stream_enrich",
      "q94_stream_append", "q95_stream_dedup", "q96_stream_attrib",
      "q97_stream_sessionw", "q362_stream_analyze")
      .foreach(q => run(q).collect())
    val after = spark.catalog.listTables().collect().map(_.name).toSet
    val leaked = (after -- before).filter(_.startsWith("graft_stream"))
    assert(leaked.isEmpty, s"harness leaked catalog entries: $leaked")
    val leftOnDisk = (roots() -- rootsBefore).toSeq.flatMap { r =>
      Seq("src", "ck").map(r.resolve).filter(java.nio.file.Files.exists(_))
    }
    assert(leftOnDisk.isEmpty, s"harness left staging on disk: $leftOnDisk")
  }
}
