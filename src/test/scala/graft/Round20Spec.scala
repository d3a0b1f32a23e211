package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 gates for the r19 advice/verdict items: the two-level KMV
  * sketch build (no single-reducer sort of a column's distinct domain),
  * the q367 emptied-summary decrement edge, and the stream-ANALYZE
  * replay idempotence contract.
  */
class Round20Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- KMV two-level build (r19 verdict item 3) -----------------------

  test("KMV sketch: two-level build matches the single-window k-smallest exactly") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val (_, sk) = ops.Analyze.colPartials(li, 0)
    val twoLevel = sk.select($"col_name", $"h").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(identity).toSeq
    // the reference spelling: one global rank per column over the full
    // distinct domain — correct, just not the shape we ship
    val m = li.columns.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      (acc, c) =>
        val one = li.select(lit(c).as("col_name"),
          col(c).cast("string").as("v"))
        Some(acc.map(_.unionByName(one)).getOrElse(one))
    }.get
    val single = m.where($"v".isNotNull)
      .select($"col_name", $"v").distinct()
      .withColumn("h", md5($"v".cast("binary")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"col_name").orderBy($"h")))
      .where($"rk" <= ops.Analyze.KmvK)
      .select($"col_name", $"h").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(identity).toSeq
    assert(twoLevel == single,
      "two-level KMV build diverged from the global k-smallest set")
  }

  test("KMV sketch plan: level-1 rank is bucketed, level-2 sits above its filter") {
    val li = Tables.lineitem(spark, sf)
    val (_, sk) = ops.Analyze.colPartials(li, 0)
    val plan = sk.queryExecution.executedPlan.toString
    val colOnly = """windowspecdefinition\(col_name#\d+, h#""".r
      .findFirstMatchIn(plan).map(_.start)
    val bucketed = """windowspecdefinition\(col_name#\d+, sb#\d+L?, h#""".r
      .findFirstMatchIn(plan).map(_.start)
    assert(bucketed.nonEmpty,
      "no (col_name, sb)-partitioned window in the sketch plan — the " +
        "level-1 bucketed rank is gone and a full-domain per-column " +
        "sort is back")
    assert(colOnly.nonEmpty, "no level-2 per-column window in the plan")
    // executedPlan prints top-down: the per-column window must be the
    // UPPER one, running on level-1 survivors (<= fanout*k rows per
    // column), never on the raw distinct domain
    assert(colOnly.get < bucketed.get,
      "the per-column window sits BELOW the bucketed one — it is " +
        "ranking the full distinct domain again")
  }

  // ---- q367: emptied-summary decrement (r19 advice) -------------------

  test("MG compress reports its decrement even when the summary empties") {
    import spark.implicits._
    // k=2, three keys all tied at 5: t = 5 (the (k+1)-th count), and no
    // survivor has cnt > t — the summary is EMPTY but a real decrement
    // of 5 was applied and must reach the guarantee ledger
    val h = Seq(("a", 5L), ("b", 5L), ("c", 5L)).toDF("key", "cnt")
    val (summary, t) = ops.Stats.mgCompress(spark, h, 2)
    assert(summary.count() == 0L, "tied top-(k+1) must empty the summary")
    assert(t.head().getLong(0) == 5L,
      "emptied summary understated its decrement — t must come from " +
        "the ranked frame, not the survivors")
  }

  // ---- q368/q369: the plan follows the ARTIFACT (CBO loop closure) ----

  test("q368: flipping the stored join-order advice flips the physical plan, not the answer") {
    import spark.implicits._
    val honest = SparkEntry.queries("q368_stats_planned_join")(spark, sf)
      .collect().toSeq
    val root = ops.Analyze.cboStore(spark, sf)
    val led = spark.read.parquet(s"$root/ledger").collect()
      .map(r => (r.getAs[String]("first_join"), r.getAs[Long]("est_rows"),
        r.getAs[Long]("actual_rows"), !r.getAs[Boolean]("advised")))
      .toSeq
    try {
      led.toDF("first_join", "est_rows", "actual_rows", "advised")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/ledger")
      // q368's own in-plan `require`s assert the innermost join matches
      // whatever the artifact advises — a green run under the flipped
      // ledger PROVES the physical order followed the store, and the
      // identical rows prove the decision changed the plan only
      val flipped = SparkEntry.queries("q368_stats_planned_join")(
        spark, sf).collect().toSeq
      assert(flipped == honest,
        "join order changed the ANSWER — the oracle contract is broken")
    } finally
      // the tampered ledger must not outlive the test: drop the store
      // so the next consumer rebuilds the honest artifact
      graft.streaming.Streams.deleteStaged(
        java.nio.file.Paths.get(root))
  }

  test("q369: the stored salt factor parameterizes the join's fan-out") {
    import spark.implicits._
    val honest = SparkEntry.queries("q369_salted_join_stored")(spark, sf)
      .collect().toSeq
    val root = ops.Analyze.skewStore(spark, sf)
    val sk = spark.read.parquet(s"$root/skew").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("share_ppm"), r.getAs[Long]("ideal_rows"),
        3L, true))
      .toSeq
    try {
      sk.toDF("event_type", "n_rows", "share_ppm", "ideal_rows",
        "salt_factor", "is_skewed")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/skew")
      // q369 `require`s the plan's pmod literal equals the STORED
      // factor — green under the tampered 3 proves consumption, and
      // the result must not move (salt-independence)
      val tampered = SparkEntry.queries("q369_salted_join_stored")(
        spark, sf).collect().toSeq
      assert(tampered == honest,
        "salt factor changed the ANSWER — salting must be result-neutral")
    } finally
      graft.streaming.Streams.deleteStaged(
        java.nio.file.Paths.get(root))
  }

  test("q04: the stored ANALYZE artifact decides its broadcast, both ways") {
    import spark.implicits._
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // advised branch: part's measured mass fits the budget -> the
      // query's plan must carry the broadcast WITHOUT any
      // size-estimate help
      val hinted = SparkEntry.queries("q04_brand_volume")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        "stored advice did not materialize as a broadcast join")
      // refused branch: a zero budget must yield a shuffle join from
      // the SAME artifact read
      val refused = ops.Analyze.statsJoinStoredOn(spark, sf,
        Tables.lineitem(spark, sf), "part",
        $"l_partkey" === $"p_partkey", budget = 0L)
        .groupBy($"p_brand").agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(!refused.contains("BroadcastHashJoin"),
        "zero budget still broadcast — the artifact is decorative")
    }
  }

  test("q371: the selectivity estimate decides the join strategy, both ways") {
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // fired arm: the head-band's estimated mass fits -> broadcast,
      // proven by q371's own in-plan require (it ran green above the
      // size-estimate machinery, which is disabled here)
      val fired = SparkEntry.queries("q371_selectivity_planned")(spark, sf)
      assert(fired.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      // refused arm: a zero budget must shuffle the SAME estimated band
      val refused = ops.Analyze.q371Inner(spark, sf, budget = 0L)
      assert(!refused.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        "zero budget still broadcast — the selectivity estimate is " +
          "not the decision input")
      assert(refused.collect().toSeq == fired.collect().toSeq,
        "join strategy changed the ANSWER")
    }
  }

  // ---- q362: replay-idempotent partials store (r19 advice) ------------

  test("stream-ANALYZE store: a replayed batch write replaces, never double-counts") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val root = java.nio.file.Files
      .createTempDirectory("graft_r20_replay").toString
    def writeBatch(store: String, id: Long): Unit = {
      val (p, sk) = ops.Analyze.colPartials(li, id.toInt)
      p.drop("batch").coalesce(1).write.mode("overwrite")
        .parquet(s"$store/partials/batch=$id")
      sk.drop("batch").coalesce(1).write.mode("overwrite")
        .parquet(s"$store/sketch/batch=$id")
    }
    writeBatch(s"$root/once", 0)
    writeBatch(s"$root/replayed", 0)
    writeBatch(s"$root/replayed", 0) // the at-least-once redelivery
    val once = ops.Analyze.mergedStatsReadout(spark, s"$root/once")
      .collect().toSeq
    val replayed = ops.Analyze.mergedStatsReadout(spark, s"$root/replayed")
      .collect().toSeq
    assert(replayed == once,
      "a redelivered microbatch changed the merged readout — the " +
        "batch-keyed overwrite is not idempotent")
    // and the readout really covers the rows (a vacuous pass guard)
    assert(once.map(_.getAs[Long]("n_rows")).distinct == Seq(li.count()),
      "per-column row counts must equal the batch size")
  }
}
