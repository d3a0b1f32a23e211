package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 optimization gates: the layout-adaptive compute spread
  * (`Scale.spreadIfNarrow`) that parallelizes per-row-expensive stages
  * over single-split bench inputs without changing any result — and
  * without firing at production split counts.
  */
class Round20bSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("spreadIfNarrow widens a narrow scan to defaultParallelism, keyed") {
    val docs = Tables.documents(spark, sf)
    val spread = ops.Scale.spreadIfNarrow(docs, col("doc_id"))
    // the spread must be a real hash repartition (deterministic under
    // task retries), at the session's parallelism
    assert(spread.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "narrow scan was not spread to defaultParallelism")
    val plan = spread.queryExecution.optimizedPlan.toString
    assert(plan.contains("doc_id"),
      s"spread is not keyed by the requested column:\n$plan")
    // row multiset unchanged — the helper is a layout hint, never a
    // semantic operator
    assert(spread.count() == docs.count())
  }

  test("spreadIfNarrow is the identity when the scan already has enough splits") {
    // shrink the split size so even the tiny test file counts as
    // >= cores splits — the helper must then return the frame AS IS
    SparkTestSession.withConf("spark.sql.files.maxPartitionBytes" -> "1024") {
      val docs = Tables.documents(spark, sf)
      val spread = ops.Scale.spreadIfNarrow(docs, col("doc_id"))
      assert(spread eq docs,
        "spread fired on a wide layout — at production split counts " +
          "this would add a payload-sized exchange")
    }
  }

  test("spreadIfNarrow is the identity on a non-file source (ExistingRDD)") {
    import spark.implicits._
    // an unlistable input (no file scan behind it) must resolve to
    // identity — the conservative default when the layout is unknowable
    // is "assume wide", never a payload-sized exchange (r20 verdict
    // item 7: the old fail-narrow default would repartition exactly the
    // frames whose layout the helper cannot see)
    val rdd = spark.sparkContext.parallelize(Seq((1L, "a"), (2L, "b")), 2)
    val df = rdd.toDF("doc_id", "text")
    assert(df.inputFiles.isEmpty, "fixture must be a non-file source")
    val spread = ops.Scale.spreadIfNarrow(df, col("doc_id"))
    assert(spread eq df,
      "spread fired on an unlistable source — estimation failure must " +
        "default to identity (assume wide)")
  }

  test("sweepStaleSiblings is scoped to the source dir (r21 fix)") {
    // the pre-r21 any-sibling sweep made a verify at sf0.01 destroy the
    // sf0.1 erasure stores (and vice versa): every SF-alternating run
    // paid a full store rebuild. For every store declared to sweep,
    // `ensure` must delete (a) same-dir stale freshness siblings and
    // (b) pre-migration single-tag roots, and must KEEP other source
    // dirs' live stores and other prefixes' roots.
    val otherDir = "0" * 16
    assert(ops.StoreGuard.dirTag(sf) != otherDir)
    val sweeping = ops.StoreGuard.all.filter(_.sweep)
    assert(sweeping.size >= 12, s"only ${sweeping.size} sweeping stores")
    val wrong = sweeping.flatMap { st =>
      val k = st.key
      def path(n: String) = java.nio.file.Paths.get(k.base, n)
      val stale = s"${k.prefix}_${ops.StoreGuard.dirTag(sf)}_0000dead"
      val preMigration = s"${k.prefix}_deadbeef01"
      val other = s"${k.prefix}_${otherDir}_0000beef"
      val otherPrefix = s"${k.prefix}x_${ops.StoreGuard.dirTag(sf)}_0000dead"
      Seq(stale, preMigration, other, otherPrefix)
        .foreach(n => java.nio.file.Files.createDirectories(path(n)))
      val live = st.ensure(spark, sf)
      val why = Seq(
        java.nio.file.Files.exists(path(stale)) -> "same-dir stale sibling kept",
        java.nio.file.Files.exists(path(preMigration)) -> "pre-migration root kept",
        !java.nio.file.Files.exists(path(other)) -> "other-dir sibling swept",
        !java.nio.file.Files.exists(path(otherPrefix)) -> "other prefix swept",
        !java.nio.file.Files.exists(java.nio.file.Paths.get(live)) ->
          "live root gone")
      Seq(other, otherPrefix)
        .foreach(n => graft.streaming.Streams.deleteStaged(path(n)))
      why.collect { case (true, w) => s"${st.name}: $w" }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("q132/q264/q301/q343/q344 stay row-identical under the spread") {
    // the spread sites' results must not depend on the layout hint:
    // compare each against itself computed with the spread suppressed
    // (wide-layout conf), row multiset equality
    val names = Seq("q132_top_ngram", "q264_dup_spans",
      "q301_fuzzy_decontam", "q343_corpus_bleu", "q344_rouge_n")
    for (n <- names) {
      val withSpread = SparkEntry.queries(n)(spark, sf).collect()
        .map(_.toString).sorted.toSeq
      // helper sees a wide layout -> no-op
      val without = SparkTestSession.withConf(
          "spark.sql.files.maxPartitionBytes" -> "1024") {
        SparkEntry.queries(n)(spark, sf).collect()
          .map(_.toString).sorted.toSeq
      }
      assert(withSpread == without, s"$n rows changed under the spread")
    }
  }
}
