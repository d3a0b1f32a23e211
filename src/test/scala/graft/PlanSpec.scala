package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the scale-critical physical-plan properties
  * (pushdown, pruning, broadcast) must not silently rot as queries
  * evolve — the same checks `graft.Explain` surfaces interactively.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String = RegistryPlans(sf, q).executedPlan

  test("q02: predicates and projection reach the parquet scan") {
    val p = plan("q02_selective_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"missing pushdown:\n$p")
    assert(!p.contains("l_shipdate"), "column pruning lost")
  }

  test("q04/q05: dimension joins broadcast") {
    assert(plan("q04_brand_volume").contains("BroadcastHashJoin"))
    val star = plan("q05_star_revenue")
    assert("BroadcastHashJoin".r.findAllIn(star).size >= 3,
      s"star dims must broadcast:\n$star")
  }

  test("q03: top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q03_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k pushdown:\n$p")
  }

  test("q88: bucketed join runs with no Exchange on either side") {
    // materialize q88 once so the bucketed tables exist in this
    // session's catalog, then inspect the bare join's physical plan
    SparkEntry.queries("q88_bucketed_join")(spark, sf).collect()
    // exact names via the dir-hash tag — a prefix scan of the shared
    // catalog could pick up another spec's tables for a different dir
    val (ot, ct) = ops.Scale.bucketedTables(sf)
    // at this tiny SF the planner rightly prefers broadcast (and skips
    // the bucketed scan); the property under test is the big-big case,
    // so turn auto-broadcast off to see the plan a 100 TB join gets
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = ops.Scale.bucketedJoin(spark, ot, ct)
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"q88 not a sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"q88 bucketing didn't co-locate:\n$p")
      assert(p.contains("Bucketed: true"), s"q88 bucketed scan unused:\n$p")
    }
  }

  test("shuffle-hash hint replaces sort-merge and preserves the result") {
    // The middle of the join-strategy ladder: broadcast < SHUFFLE_HASH <
    // sort-merge. When one side fits a per-task hash map but exceeds the
    // broadcast threshold, hinting SHJ drops BOTH sides' sorts — at
    // 100 TB that is the difference between two full sorts of shuffled
    // data and none. Verify the hint takes effect AND the join result is
    // bit-identical to the default plan.
    import org.apache.spark.sql.functions._
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val orders   = Tables.orders(spark, sf)
      val lineitem = Tables.lineitem(spark, sf)
      def agg(li: org.apache.spark.sql.DataFrame) = orders
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(l_extendedprice * 100) AS LONG)"))
            .as("cents"))
        .orderBy(col("o_orderpriority"))
      val smj = agg(lineitem)
      val shj = agg(lineitem.hint("shuffle_hash"))
      val pSmj = smj.queryExecution.executedPlan.toString
      val pShj = shj.queryExecution.executedPlan.toString
      assert(pSmj.contains("SortMergeJoin"),
        s"control should default to SMJ:\n$pSmj")
      assert(pShj.contains("ShuffledHashJoin") &&
        !pShj.contains("SortMergeJoin"),
        s"hint did not switch to shuffled hash join:\n$pShj")
      assert(smj.collect().toSeq == shj.collect().toSeq,
        "SHJ result diverges from SMJ")
    }
  }

  test("r10d queries keep their scale-critical plan shapes") {
    // q160: the global top-20 cut must be a per-task heap, not a sort
    val p160 = plan("q160_trigram_paths")
    assert(p160.contains("TakeOrderedAndProject"),
      s"q160 top-k lost its heap cut:\n$p160")
    // q154/q156: the matrix/histogram aggregates must partial-combine
    // map-side (that collapse is the whole 100 TB argument)
    for (q <- Seq("q154_markov_transitions", "q156_mad_anomaly")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q aggregation not two-phase:\n$p")
    }
  }

  test("q01: aggregation is two-phase (partial + final)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final hash agg:\n$p")
  }

  test("q54: sequence packing is a pure generator — no shuffle") {
    // the registered query sorts for the oracle; the OPERATOR itself must
    // be scan→project→generate with no Exchange (the 100 TB contract:
    // chunking never reshuffles the corpus)
    val p = ops.Corpus
      .packChunks(Tables.documents(spark, sf), 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate explode"), s"no generator:\n$p")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("q55/q56: blocked pair joins are equi-joins, never nested-loop") {
    Seq("q55_embed_neardup", "q56_fuzzy_brand").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$p")
    }
  }

  test("q59: grouping sets plan one Expand, not a union of scans") {
    val p = plan("q59_grouping_sets")
    assert(p.contains("Expand"), s"no Expand:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"grouping sets must share one scan:\n$p")
  }

  test("r3 queries keep their scale-critical plan shapes") {
    // q64: top-k is TakeOrderedAndProject; the doc count is broadcast
    val p64 = plan("q64_tfidf_terms")
    assert(p64.contains("TakeOrderedAndProject"), s"q64 full sort:\n$p64")
    assert(p64.contains("BroadcastNestedLoopJoin") ||
      p64.contains("BroadcastExchange"), s"q64 N not broadcast:\n$p64")
    // q66: the hour-cardinality counts side is the hinted broadcast
    // build of the left-outer join (the spine is stream-preserved and
    // can never be the build side) — no sort-merge shuffle
    val p66 = plan("q66_hourly_spine")
    assert(p66.contains("BroadcastExchange"), s"q66 counts shuffled:\n$p66")
    assert(!p66.contains("SortMergeJoin"), s"q66 fell back to SMJ:\n$p66")
    // q78: percent-of-total gets its denominator from a broadcast 1-row
    // aggregate — never an unpartitioned window over the result
    val p78 = plan("q78_brand_share")
    assert(!p78.contains("Window"), s"q78 uses a global window:\n$p78")
    assert(p78.contains("BroadcastNestedLoopJoin") ||
      p78.contains("BroadcastExchange"), s"q78 total not broadcast:\n$p78")
    // q69: the RANGE-frame window and the per-user reduction reuse ONE
    // shuffle on user_id (the orderBy adds a range exchange at the end)
    val p69 = plan("q69_user_bursts")
    val hashEx = "hashpartitioning".r.findAllIn(p69).size
    assert(hashEx <= 1, s"q69 reshuffles between window and agg:\n$p69")
  }

  test("r10c sampling queries keep their scale-critical plan shapes") {
    // q146: the weighted sample's global top-k is TakeOrderedAndProject
    // (bounded per-task heap), never a full global sort of the corpus
    val p146 = plan("q146_weighted_sample")
    assert(p146.contains("TakeOrderedAndProject"), s"q146 full sort:\n$p146")
    // q148: the derived rate table joins back as a broadcast — the
    // corpus side must not shuffle for a langs-sized dimension
    val p148 = plan("q148_temp_mixture")
    assert(p148.contains("BroadcastHashJoin"), s"q148 rates not broadcast:\n$p148")
    assert(!p148.contains("SortMergeJoin"), s"q148 fell back to SMJ:\n$p148")
    // q153: the change-filter window and the versioning windows reuse
    // ONE hash exchange on user_id (plus the final presentation sort)
    val p153 = plan("q153_scd2_history")
    val hashEx153 = "hashpartitioning".r.findAllIn(p153).size
    assert(hashEx153 <= 1, s"q153 reshuffles between windows:\n$p153")
  }

  test("no registered batch query degenerates to an unbounded cartesian") {
    import PlanSpec.oneRowBroadcast
    val plans = RegistryPlans.all(sf).map { case (q, p) => q -> p.executedPlan }
    plans.foreach { case (q, p) =>
      assert(!p.contains("CartesianProduct"), s"$q: cartesian:\n$p")
      if (!oneRowBroadcast(q))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q: nested-loop join:\n$p")
    }
    // exact: an exemption whose query no longer plans a nested loop fails
    val stale = oneRowBroadcast --
      plans.collect { case (q, p) if p.contains("BroadcastNestedLoopJoin") => q }
    assert(stale.isEmpty, s"allowlisted without a nested-loop join: $stale")
  }

  test("plan audits construct each registered query once") {
    RegistryPlans.all(sf)
    assert(RegistryPlans.constructions == RegistryPlans.names.size)
  }

  test("every skipped or allowlisted name is a registered query") {
    val lists = Map(
      "RegistryPlans.skip" -> RegistryPlans.skip.keySet,
      "PlanSpec.oneRowBroadcast" -> PlanSpec.oneRowBroadcast,
      "Round17Spec.globalWindows" -> Round17Spec.globalWindows)
    val unknown = lists.map { case (list, qs) =>
      list -> (qs -- SparkEntry.queries.keySet)
    }.filter(_._2.nonEmpty)
    assert(unknown.isEmpty, s"names with no registered query: $unknown")
  }

  test("q171/q180 profilers plan with NO Expand") {
    // multi-distinct in one aggregate goes through Expand — input rows
    // replicated ×(columns+1) into the first shuffle, the one profile
    // plan not to ship at 100 TB. q171 must stay on per-column
    // single-distinct aggregates; q180 on one sketch-only pass.
    val exact = plan("q171_column_profile")
    assert(!exact.contains("Expand"), s"q171 regressed to Expand:\n$exact")
    val approx = plan("q180_approx_profile")
    assert(!approx.contains("Expand"), s"q180 plans an Expand:\n$approx")
    // and the approx path is genuinely ONE aggregate over ONE scan
    assert("Scan parquet".r.findAllIn(approx).size == 1,
      s"q180 should read the table once:\n$approx")
  }

  test("r14b ops: models broadcast, no sort-merge joins sneak in") {
    // q268: the 256-row DSIR model and the threshold/quota scalars are
    // broadcast; the corpus-side token join must never sort-merge
    val dsir = plan("q268_dsir_selection")
    assert(dsir.contains("BroadcastHashJoin") ||
      dsir.contains("BroadcastNestedLoopJoin"), s"q268 model not broadcast:\n$dsir")
    assert(!dsir.contains("SortMergeJoin"),
      s"q268 token join regressed to SMJ:\n$dsir")
    // q271: the (class × bucket) NB model broadcasts the same way
    val nb = plan("q271_nb_classifier")
    assert(nb.contains("BroadcastHashJoin"),
      s"q271 model not broadcast:\n$nb")
    assert(!nb.contains("SortMergeJoin"),
      s"q271 scoring join regressed to SMJ:\n$nb")
    // q278: the matrix reduces to the daily grain BEFORE any window —
    // partial aggregation must sit under the exchange
    val fm = plan("q278_feature_matrix")
    assert(fm.contains("partial_count") || fm.contains("partial"),
      s"q278 daily rollup lost map-side combine:\n$fm")
    // q279/q280: the |V|²-row transition model broadcasts back into the
    // user-grain scoring join — never a sort-merge on the big side
    Seq("q279_markov_surprisal", "q280_next_event_eval").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q model not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q scoring join SMJ:\n$p")
    }
  }

  test("whole-stage codegen covers the scan→agg pipeline") {
    // AQE finalizes the plan lazily — execute first, then inspect
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" operator prefixes mark whole-stage-codegen stages
    assert(p.contains("*(1)") && p.contains("*(2)"),
      s"codegen stages absent:\n$p")
  }

  test("CBO: ANALYZE column stats flip a post-filter join to broadcast") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // catalog table so ANALYZE has somewhere to hang statistics;
    // sf0.01 so the FILE-size estimate is comfortably over threshold
    graft.Tables.customer(spark, "/root/testdata/sf0.01")
      .write.mode("overwrite").saveAsTable("cbo_dim")
    val orders = graft.Tables.orders(spark, sf)
    def joinPlan(): String = {
      val dim = spark.table("cbo_dim").filter($"c_custkey" < 10)
      orders.join(dim, $"o_custkey" === $"c_custkey")
        .groupBy($"c_name").agg(count(lit(1)))
        .queryExecution.executedPlan.toString
    }
    // threshold between the CBO post-filter estimate (~10 rows) and
    // the stats-free estimate (filter inherits the scan's file-size
    // based estimate — tens of KB at sf0.01)
    try SparkTestSession.withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "2048",
        "spark.sql.cbo.enabled" -> "false") {
      val before = joinPlan()
      assert(before.contains("SortMergeJoin") ||
        before.contains("ShuffledHashJoin"),
        s"without stats the filtered dim must not broadcast:\n$before")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.sql(
        "ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR COLUMNS c_custkey")
      val after = joinPlan()
      assert(after.contains("BroadcastHashJoin"),
        s"column stats + CBO must estimate the filter selective " +
          s"and broadcast:\n$after")
    } finally spark.sql("DROP TABLE IF EXISTS cbo_dim")
  }

  test("AQE splits a skewed sort-merge-join partition at runtime") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // 90% of the left rows share one key — the classic skew shape the
    // salting op (q47) handles manually; this proves the AQE runtime
    // path handles it without a rewrite when thresholds are met
    val left = spark.range(0, 200000)
      .select(when($"id" % 10 =!= 0, 0L).otherwise($"id").as("k"),
        $"id".as("v"))
    val right = spark.range(0, 1000).select($"id".as("k"),
      ($"id" * 2).as("w"))
    SparkTestSession.withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    ) {
      val joined = left.join(right, "k")
      // execute THIS QueryExecution (a .count() would build its own):
      // AQE finalizes a plan only after its own adaptive run
      val qe = joined.queryExecution
      qe.toRdd.count()
      val p = qe.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark/split the skewed partition:\n$p")
    }
  }
}

object PlanSpec {
  // 1-row-broadcast denominators (scalar subquery shape) legitimately
  // plan as BroadcastNestedLoopJoin over exactly one row — allow those
  // q40/q49/q127: broadcast 1-row query vector for the top-k scan
  // (q127 adds the 1-row query embedding again in the refine re-score)
  val oneRowBroadcast = Set(
    "q16_scalar_subquery", "q64_tfidf_terms", "q78_brand_share",
    "q40_cosine_topk", "q49_ivf_topk", "q127_ivfpq_topk",
    "q91_hll_merge", // 1-row merged × 1-row direct cross
    "q143_triangle_count", // 1-row nodes × edges × triangles counts
    "q167_bm25_search", // 1-row (n_docs, tot_toks) corpus constants
    "q262_hybrid_rrf", // q167's 1-row corpus constants in the BM25 leg
    "q169_basket_rules", // 1-row n_orders basket denominator
    "q176_rfm_segments", // 1-row percentile-threshold broadcast
    "q184_ivf_incremental", // 1-row query embedding over pruned cells
    "q263_filtered_ann", // same 1-row query embedding, filtered probe
    "q201_curriculum_shards", // 1-row difficulty-threshold broadcast
    "q268_dsir_selection", // 1-row sampling-threshold + quota broadcast
    "q271_nb_classifier", // class-count-row prior/total broadcast
    "q272_ir_metrics", // 3-row cutoff dim × 20-row ranked list
    "q275_incremental_index", // q167's 1-row corpus constants, from postings
    "q278_feature_matrix", // 1-row max-day broadcast bounds the label window
    "q279_markov_surprisal", // 1-row vocabulary scalar into the |V|² model
    "q281_stream_markov", // same surprisal core as q279
    "q286_prediction_calibration", // q279's 1-row vocab scalar in the trained model
    "q290_incremental_triangles", // 1-row census × delta-count crosses
    "q294_target_encoding", // 1-row global-sum cross into |cats|·|folds| cells
    "q295_graph_profile", // 1-row node-stats × 1-row edge-stats cross
    "q296_kmeans_refresh", // 1-row collected codebook crossed per scan
    "q283_changepoints", // 1-row split/total broadcasts over the day grain
    "q206_kmv_merge", // 1-row n_days × 1-row exact-control cross
    "q343_corpus_bleu", // 1-row length ledger × 1-row per-n clip cross
    "q345_epoch_folding", // 1-row (n, S) stats broadcast over the hour grain
    // DOMAIN-bounded nested loops: the broadcast side is a bounded
    // dim (deciles, type CDF intervals, coalition masks, death
    // times, score bands) so per-stream-row cost is O(dim); the
    // stream side is itself domain-sized except q243's draw fan,
    // where the 5-row CDF lookup is the per-draw assignment step
    "q241_gains_table", // 10-row decile dim ≤-joins the cent cum
    "q252_qini_uplift", // same 10-row decile dim as q241
    "q254_ljung_box", // 7-row lag dim crossed with the daily series
    "q243_bh_fdr", // 5-row type-interval CDF lookup per draw
    "q244_shapley_attribution", // 16-row coalition ⊆-joins (bitmask)
    "q245_logrank_test", // death-time grid × duration histogram
    "q247_isotonic_calibration", // band i ≤ j interval self-join
    // vocabCap²-bounded brute force BY DESIGN (the cap is the scale
    // device — q300's eigensolve input); a corpus-sized serving path
    // plugs the same vectors into the q49 IVF family instead
    "q307_embedding_neighbors",
    // cold-start back-off: the |V|-row type marginal broadcast into
    // the (rare) context-less users — a bounded dim (the constant
    // equi-key folds away, so the planner shows BNLJ)
    "q311_next_event_serving",
    // sppmi's grand total is a broadcast 1-row aggregate (the q78
    // device that replaced the r15-flagged single-partition global
    // window) — every sppmi consumer inherits the 1-row cross
    "q299_shifted_ppmi", "q308_embedding_foldin", "q312_embedding_refresh",
    "q318_refresh_sppmi", "q329_sppmi_erasure",
    // q313 additionally broadcasts the 8-row probe set against the
    // cell-pruned index scan (array_contains join — bounded dim);
    // q342 serves the same probe path from the ERASED index
    "q313_trained_ann_serving", "q342_serving_erasure",
    // q316's Cramer solve lives on a broadcast 1-row normal-equation
    // aggregate crossed into the scoring — the q78 device again
    "q316_crossmodal_alignment",
    // r17: broadcast 1-row aggregates replacing global windows (the
    // q299 device generalized) — bitemporal cuts, core stats, PMI
    // totals; q320 inherits q313's 8-row probe broadcast per version
    "q164_asof_dimension", "q210_bitemporal_asof", "q287_kcore",
    "q258_pmi_collocations", "q320_registry_serving",
    // q321 serves q275's BM25 (same 1-row corpus-stats cross) from
    // the compacted store; q331 serves it from the erasure-filtered
    // posting store
    "q321_index_compaction", "q331_index_erasure",
    // r19: the CBO advice ledgers cross a broadcast 1-row aggregate
    // (best estimate / histogram grand total) into a |keys|-row or
    // 2-row ledger — the q78 device on metadata-sized frames; q364
    // crosses the 9-row boundary dim into the 3-row range dim
    "q361_join_order_advice", "q363_skew_salt_advice",
    "q364_range_selectivity", "q366_boundary_store",
    // q367 crosses three broadcast 1-row decrements + the 1-row bound
    "q367_heavy_hitters_mg")
}
