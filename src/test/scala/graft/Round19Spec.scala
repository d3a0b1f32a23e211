package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 gates: the cross-run dedup-store compaction drill
  * (q356/q357/q358 — fragment into the nightly-append layout, compact,
  * serve the SAME readout), the Gorilla null-element rejection, the
  * q348 ledger's zero-new-chunk batch row, and the empty-table
  * broadcast-advice verdict (r18 advice items).
  */
class Round19Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- q356/q357/q358: store compaction serves identical state ---------

  test("q357: sig-store readout identical before and after compaction") {
    val store = spark.read.parquet(
      s"${ops.Dedup.sigStore(spark, sf)}/sigs")
    val direct = ops.Dedup.sigStoreReadout(spark, store).collect()
    val served = SparkEntry.queries("q357_sig_store_compaction")(spark, sf)
      .collect()
    assert(served.toSeq == direct.toSeq,
      "compacted sig store served a different readout")
    assert(direct.map(_.getAs[Long]("n_docs")).sum ==
      store.count(), "readout must cover every stored signature row")
  }

  test("q358: chunk-store ledger identical before and after compaction") {
    val direct = SparkEntry.queries("q348_cdc_chunk_store")(spark, sf)
      .collect()
    val served = SparkEntry.queries("q358_chunk_store_compaction")(
      spark, sf).collect()
    assert(served.toSeq == direct.toSeq,
      "compacted chunk store served a different batch ledger")
    assert(served.length == 2, "the 2-row batch ledger contract")
  }

  test("q356: compacted passage store is row-identical to the original") {
    // the oracle certifies the SERVED readout externally; this pins the
    // stronger internal claim — the compacted store holds exactly the
    // original winner rows (and the byte-carry/skip/collapse proofs ran
    // in-plan via fragmentCompactServe's requires)
    val original = spark.read.parquet(
      s"${ops.Text.passageStore(spark, sf)}/store")
    SparkEntry.queries("q356_passage_store_compaction")(spark, sf).count()
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_")
    val compacted = spark.read.parquet(
      s"target/graft_text_store/q356_compact_$tag/compacted").drop("pb")
      .select(original.columns.map(col): _*)
    assert(compacted.except(original).isEmpty &&
      original.except(compacted).isEmpty,
      "compaction changed the passage-store row set")
    assert(compacted.count() == original.count(),
      "compaction changed the passage-store row count (dup check)")
  }

  test("store compaction: fragmented layout actually collapsed and pb=0 byte-carried") {
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"target/graft_text_store/q356_compact_$tag"
    // q356 above already ran the drill; read both layouts
    val before = ops.Corpus.storeLayout(s"$root/fragmented")
    val after = ops.Corpus.storeLayout(s"$root/compacted")
    assert(before.dirs.keySet == after.dirs.keySet)
    // buckets 1..7 took 3 sprayed writes — over-fragmented by
    // construction — and must collapse; bucket 0 is right-sized by
    // construction and must carry over exactly
    assert(after.files < before.files,
      s"no collapse: ${before.files} -> ${after.files}")
    assert(before.dirs("pb=0") == after.dirs("pb=0"),
      "right-sized pb=0 must be skipped and hard-copied")
    assert(before.dirs("pb=0")._1 == 1, "pb=0 staged as a single file")
    // at least one fragmented dir existed (files > size-derived target)
    assert(before.files > before.dirs.size,
      "staging produced no fragmentation — the drill tests nothing")
  }

  // ---- r18 advice regressions ------------------------------------------

  test("gorilla_encode rejects null elements instead of corrupting") {
    import spark.implicits._
    Gorilla19Fixtures.register(spark)
    val ok = Seq((Array(1L, 2L, 3L), Array(1.0, 2.0, 3.0)))
      .toDF("ts", "vs")
      .select(expr("gorilla_decode(gorilla_encode(ts, vs))").as("d"))
      .select(expr("d.ts").as("ts"), expr("d.vs").as("vs"))
      .collect().head
    assert(ok.getSeq[Long](0) == Seq(1L, 2L, 3L))
    val e = intercept[Exception] {
      spark.sql(
        "SELECT gorilla_encode(array(1L, NULL, 3L), " +
          "array(double(1.0), double(2.0), double(3.0)))")
        .collect()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e).contains("null element"),
      s"expected the loud null rejection, got: ${rootMsg(e)}")
  }

  test("q348 ledger keeps a row for a fully-deduplicated batch") {
    import spark.implicits._
    // batch 1 (doc_id % 10 >= 8) duplicates batch-0 text exactly →
    // zero new chunk winners; the ledger must still carry its row with
    // n_new_chunks = 0, not drop it (r18 advice: left join + coalesce)
    val base = (0L to 7L).map(i =>
      (i, s"alpha bravo charlie delta echo foxtrot golf hotel " * 8 +
        s"tail$i"))
    val dup = Seq((8L, base(0)._2), (9L, base(1)._2))
    val docs = (base ++ dup).toDF("doc_id", "text")
    val tmp = "target/stage_test/q348_fulldup"
    graft.streaming.Streams.deleteStaged(java.nio.file.Paths.get(tmp))
    // single-FILE staging: the store key edge-fingerprints the
    // named source file (the Round18bSpec pattern)
    val stage = s"$tmp/documents_tmp"
    docs.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(stage))) { l =>
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
    }
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(tmp, "documents.parquet"))
    graft.streaming.Streams.deleteStaged(java.nio.file.Paths.get(stage))
    val ledger = SparkEntry.queries("q348_cdc_chunk_store")(spark, tmp)
      .collect()
    assert(ledger.length == 2, s"expected 2 ledger rows, got ${ledger.length}")
    val b1 = ledger.find(_.getAs[Long]("batch") == 1L).get
    assert(b1.getAs[Long]("n_new_chunks") == 0L,
      "fully-duplicated batch must read n_new_chunks = 0")
    assert(b1.getAs[Long]("stored_bytes") == 0L)
    assert(b1.getAs[Long]("saved_bytes") == b1.getAs[Long]("chunk_bytes"))
  }

  // ---- q359: incremental ANALYZE ----------------------------------------

  test("q359: merge == recompute on exact stats; KMV NDV bounded") {
    val got = SparkEntry.queries("q359_incremental_analyze")(spark, sf)
      .collect()
    val full = ops.Analyze.tableStats(Tables.lineitem(spark, sf))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(got.length == full.size, "one merged row per column")
    for (r <- got) {
      val name = r.getAs[String]("col_name")
      val f = full(name)
      // exact arms: merging per-batch partials must equal the one-scan
      // recompute EXACTLY (additive moments, min/max composition)
      assert(r.getAs[Long]("n_rows") == f.getAs[Long]("n_rows"), name)
      assert(r.getAs[Long]("n_null") == f.getAs[Long]("n_null"), name)
      assert(r.getAs[String]("min_v") == f.getAs[String]("min_v"), name)
      assert(r.getAs[String]("max_v") == f.getAs[String]("max_v"), name)
      assert(r.getAs[Long]("sum_len") == f.getAs[Long]("sum_len"), name)
      // sketch arm: below k the KMV is exhaustive (= exact NDV); at k
      // the estimate is bounded (k=64 ⇒ ~12.7% 1σ; 50% is a 4σ gate —
      // deterministic here, md5 has no seed)
      val ndv = f.getAs[Long]("ndv").toDouble
      val est = r.getAs[Double]("ndv_est")
      if (r.getAs[Long]("n_sketch") < ops.Analyze.KmvK)
        assert(est == ndv, s"$name: sub-k sketch must be exact")
      else assert(math.abs(est - ndv) / ndv <= 0.5,
        s"$name: ndv=$ndv est=$est")
    }
    // the store really is per-batch partials (the delta never re-scans
    // the base): both batches present, each with one row per column
    val parts = spark.read.parquet(
      s"${ops.Analyze.incrStatsStore(spark, sf)}/partials")
    assert(parts.select("batch").distinct().count() == 2)
    assert(parts.count() == 2L * full.size)
  }

  // ---- q360/q361: quantile store + join-order advice ---------------------

  test("q360: store holds per-batch histograms; readout is order-exact") {
    import spark.implicits._
    val rows = SparkEntry.queries("q360_incremental_quantiles")(spark, sf)
      .collect()
    // 3 return flags x 3 permille ranks, each answer an exact order
    // statistic: re-derive p50 per flag from the raw table and compare
    assert(rows.length == 9)
    val raw = Tables.lineitem(spark, sf)
      .select($"l_returnflag",
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(1)).sorted).toMap
    for (r <- rows) {
      val vs = raw(r.getAs[String]("l_returnflag"))
      val q = r.getAs[Long]("q_permille")
      val want = vs(((vs.length - 1).toLong * q / 1000L).toInt)
      assert(r.getAs[Long]("n_rows") == vs.length.toLong)
      assert(r.getAs[Long]("cents_q") == want,
        s"${r.getAs[String]("l_returnflag")} p$q")
    }
    val hist = spark.read.parquet(
      s"${ops.Analyze.quantStore(spark, sf)}/hist")
    assert(hist.select("batch").distinct().count() == 2,
      "the store must hold per-batch partial histograms")
  }

  test("q361: the sampled advice agrees with the exact argmin") {
    val rows = SparkEntry.queries("q361_join_order_advice")(spark, sf)
      .collect()
    assert(rows.length == 2)
    val best = rows.minBy(_.getAs[Long]("actual_rows"))
    assert(best.getAs[Boolean]("advised"),
      "the estimator must pick the truly smaller first join")
    for (r <- rows) {
      val est = r.getAs[Long]("est_rows").toDouble
      val act = r.getAs[Long]("actual_rows").toDouble
      assert(act == 0.0 || math.abs(est - act) / act <= 0.5,
        s"${r.getAs[String]("first_join")}: est $est vs actual $act")
    }
  }

  test("q363: advised salt factor drives a real fan-out, result unchanged") {
    import spark.implicits._
    val rows = SparkEntry.queries("q363_skew_salt_advice")(spark, sf)
      .collect()
    // the 5-type events table: every key is hot (c >> n/32)
    assert(rows.length == 5 && rows.forall(_.getAs[Boolean]("is_skewed")))
    // driver recompute of the arithmetic
    val n = rows.map(_.getAs[Long]("n_rows")).sum
    val ideal = (n + 31) / 32
    for (r <- rows) {
      assert(r.getAs[Long]("ideal_rows") == ideal)
      assert(r.getAs[Long]("salt_factor") ==
        (r.getAs[Long]("n_rows") + ideal - 1) / ideal)
    }
    // apply the advice through the REAL device: the hot keys fan out
    // over exactly `salts` sub-keys and the join result is unchanged
    val salts = rows.map(_.getAs[Long]("salt_factor")).max.toInt
    val fact = Tables.events(spark, sf)
      .select($"event_id", $"event_type")
    val dim = fact.select($"event_type").distinct()
      .withColumn("dim_tag", concat(lit("t:"), $"event_type"))
    val salted = ops.Salting.saltedJoin(fact, dim, "event_type",
      "event_id", salts)
    val plain = fact.join(dim, Seq("event_type"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty,
      "salting changed the join result")
    val fan = fact
      .withColumn("_salt",
        pmod(xxhash64($"event_id"), lit(salts.toLong)).cast("int"))
      .groupBy($"event_type")
      .agg(countDistinct($"_salt").as("n_sub"))
      .collect()
    assert(fan.forall(_.getAs[Long]("n_sub") == salts.toLong),
      s"hot keys must fan out over all $salts sub-keys")
  }

  test("q364: equi-depth interpolation lands within 2 buckets of exact") {
    val rows = SparkEntry.queries("q364_range_selectivity")(spark, sf)
      .collect()
    assert(rows.length == 3)
    for (r <- rows) {
      val err = r.getAs[Long]("err_ppm")
      // equi-depth buckets hold n/8 rows each, and a range's
      // interpolation error is confined to its two edge buckets —
      // 2/8 = 250000 ppm is the structural bound (driver data lands
      // well inside it; the bound is the property being gated)
      assert(math.abs(err) <= 250000,
        s"${r.getAs[String]("range_id")}: err_ppm $err")
      assert(r.getAs[Long]("est_ppm") >= 0L &&
        r.getAs[Long]("est_ppm") <= 1000000L)
    }
  }

  test("q365: advised partitions re-derive from the measured mass") {
    val rows = SparkEntry.queries("q365_shuffle_sizing")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[String]("table_name")).toSeq ==
      Seq("customer", "lineitem", "nation"))
    val t = 128L * 1024 * 1024
    for (r <- rows) {
      val bytes = r.getAs[Long]("est_bytes")
      // re-derive the clamp arithmetic and the broadcast verdict from
      // the ledger's own mass column
      assert(r.getAs[Long]("advised_partitions") ==
        math.min(2000L, math.max(1L, (bytes + t - 1) / t)))
      assert(r.getAs[Boolean]("broadcastable") ==
        (bytes < 10L * 1024 * 1024))
      assert(bytes > 0L)
    }
    // the exemplars must order by mass: nation < customer < lineitem
    val byName = rows.map(r =>
      r.getAs[String]("table_name") -> r.getAs[Long]("est_bytes")).toMap
    assert(byName("nation") < byName("customer") &&
      byName("customer") < byName("lineitem"))
  }

  test("q367: MG guarantees — bounded underestimate, heavy keys survive") {
    import spark.implicits._
    val rows = SparkEntry.queries("q367_heavy_hitters_mg")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 16)
    val tBound = rows.head.getAs[Long]("t_bound")
    for (r <- rows) {
      val under = r.getAs[Long]("under_by")
      // est ≥ f − (t1 + t2 + t_merge): never overestimates, and the
      // underestimate is bounded by the total decrement
      assert(under >= 0L && under <= tBound,
        s"user ${r.getAs[Long]("user_id")}: under_by $under vs $tBound")
      assert(r.getAs[Long]("est_cnt") > 0L)
    }
    // completeness: every key whose TRUE count exceeds the decrement
    // bound must survive the merge (the MG membership guarantee)
    val present = rows.map(_.getAs[Long]("user_id")).toSet
    val big = Tables.events(spark, sf)
      .groupBy($"user_id").agg(count(lit(1)).as("c"))
      .where($"c" > tBound)
      .collect().map(_.getLong(0)).toSet
    assert(big.subsetOf(present),
      s"heavy keys missing from the summary: ${big.diff(present)}")
  }

  test("adviseBroadcast returns a verdict for an empty table") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    assert(ops.Analyze.adviseBroadcast(empty),
      "an empty build side is trivially broadcastable")
  }
}

/** q349's SQL registration is session-global but test order is not —
  * register-on-demand for the Gorilla SQL surface this spec exercises.
  */
private object Gorilla19Fixtures {
  def register(s: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.Gorilla.register(s)
}
