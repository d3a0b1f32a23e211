package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions, locked: hopping windows must place each event in
  * exactly width/slide windows through an Expand (not a join), latest-wins
  * compaction must be a single max_by hash-agg that agrees with the
  * window-sort formulation, and the HOF fixed-point vector math must agree
  * with an explode-based reshuffle of the same arithmetic.
  */
class Round7Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q98 places each event in exactly width/slide = 4 windows") {
    val total = SparkEntry.queries("q98_sliding_windows")(spark, sf)
      .agg(sum(col("n"))).head.getLong(0)
    val events = Tables.events(spark, sf).count()
    assert(total == 4 * events,
      s"window multiplicity broken: $total rows over $events events")
  }

  test("q98 plans as Expand + partial hash-agg, not a window join") {
    val p = RegistryPlans(sf, "q98_sliding_windows").executedPlan
    assert(p.contains("Expand"), s"hopping windows lost the Expand:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"hopping-window rollup lost its map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"hopping windows planned as a join:\n$p")
  }

  test("q100 max_by compaction equals the window-sort formulation") {
    import spark.implicits._
    val viaAgg = SparkEntry.queries("q100_latest_compact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_micros($"ts").desc, $"event_id".desc)
    val viaWindow = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy($"user_id")))
      .withColumn("last_us", max(unix_micros($"ts"))
        .over(Window.partitionBy($"user_id")))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("last_type"),
        expr("CAST(ROUND(value * 100) AS LONG)").as("last_value_cents"),
        $"last_us", $"n_events")
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(viaAgg == viaWindow)
  }

  test("q100 is one hash-agg: no window sort in the compaction plan") {
    val p = RegistryPlans(sf, "q100_latest_compact").executedPlan
    assert(!p.contains("Window"), s"compaction fell back to a window sort:\n$p")
    assert(p.contains("partial_max_by"),
      s"compaction lost its map-side max_by combine:\n$p")
  }

  test("q103 null-safe join is a hash join, not a nested loop") {
    val df = SparkEntry.queries("q103_nullsafe_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"EqualNullSafe fell out of the equi-join path:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"null-safe join lost its hash-join plan:\n$p")
    // and the NULL key really joins: the NULL-labeled group exists
    assert(df.filter(col("dim_label") === "URGENT(NULL)").count() == 1)
  }

  test("observe() collects pipeline QC metrics in the same single scan") {
    // The 100 TB audit pattern: a job that filters/transforms must still
    // report whole-input counters (rows seen, value mass) WITHOUT a
    // second scan — `observe` attaches the metrics to the one pass the
    // action already makes. The filtered action below sees only clicks;
    // the observation must still cover every row.
    val obs = org.apache.spark.sql.Observation("qc")
    val ev = Tables.events(spark, sf)
    val clicks = ev
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(expr("CAST(ROUND(value * 100) AS LONG)")).as("cents"))
      .filter(col("event_type") === "click")
      .count()
    val m = obs.get
    assert(m("n_rows") == ev.count())
    assert(clicks < m("n_rows").asInstanceOf[Long])
    val cents = ev.agg(sum(expr("CAST(ROUND(value * 100) AS LONG)")))
      .head.getLong(0)
    assert(m("cents") == cents)
  }

  test("q104 EWMA fold seeds correctly at the 1- and 2-element edges") {
    // the Spark side seeds `aggregate` with element 1 and folds the tail
    // (mirroring DuckDB's list_reduce); slice(…, 2, size-1) must be
    // empty — not an error, not the full array — when there is exactly
    // one event
    def ewma(arr: String): Long = spark.sql(
      s"""SELECT aggregate(slice(a, 2, size(a) - 1), element_at(a, 1),
         |  (acc, c) -> (c + 3 * acc) div 4)
         |FROM (SELECT array($arr) AS a)""".stripMargin).head.getLong(0)
    assert(ewma("40L") == 40L)                 // seed only
    assert(ewma("40L, 8L") == 32L)             // (8 + 120) div 4
    assert(ewma("40L, 8L, 100L") == 49L)       // (100 + 96) div 4
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The runtime half of the skew story: q47 shows PLANNED salting for
    // known-skewed keys; this locks that UNKNOWN skew is rescued by
    // AQE's OptimizeSkewedJoin — one reducer partition far above the
    // advisory size is split after the map stage materializes, so a hot
    // key cannot straggle a 1000-executor join even when nobody salted
    // it. Thresholds are lowered so a test-sized build (one key holding
    // ~95% of rows) crosses them.
    import spark.implicits._
    SparkTestSession.withConf(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // force SMJ; broadcast would hide skew
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    ) {
      val left = spark.range(200000)
        .select(when($"id" < 190000, 7L).otherwise($"id").as("k"),
          $"id".as("v"))
      val right = spark.range(0, 64).select($"id".as("k"), $"id".as("w"))
      val joined = left.join(right, "k")
      // collect() drives THIS DataFrame's queryExecution (count() would
      // execute a separate aggregate plan and leave `joined`'s adaptive
      // plan unfinalized)
      assert(joined.collect().length == 190000) // hot key matches its rows
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not split the skewed partition:\n$plan")
    }
  }

  test("q99 HOF fixed-point math equals the explode formulation") {
    import spark.implicits._
    val viaHof = SparkEntry.queries("q99_hof_arrays")(spark, sf)
      .collect().map(r => r.get(0) -> r.toSeq).toMap
    val viaExplode = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", posexplode($"embedding"))
      .withColumn("mf", round($"col".cast("double") * 1000).cast("long"))
      .groupBy($"vec_id", $"label")
      .agg(
        count(when($"col" > 0f, lit(1))).cast("int").as("n_pos"),
        sum($"mf").as("sum_mf"),
        max($"mf").as("max_mf"),
      )
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n"),
        sum($"n_pos").as("n_pos_total"),
        sum($"sum_mf").as("sum_mf"),
        max($"max_mf").as("max_mf"),
      )
      .collect().map(r => r.get(0) -> r.toSeq).toMap
    assert(viaHof == viaExplode)
  }
}
