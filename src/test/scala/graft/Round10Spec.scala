package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 additions, locked: the tombstone-aware CDC merge (q125)
  * must delete, replay idempotently, and reinsert; the full-outer
  * streaming join (q126) must equal the batch FULL OUTER join with
  * orphans genuinely present on BOTH sides; and SessionCloser's
  * late-row cutoff is pinned against a straggler landing BETWEEN the
  * late-admission and eviction watermarks.
  */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import SparkTestSession.withRocksDb

  test("tombstoneMerge deletes, replays idempotently, and reinserts") {
    import spark.implicits._
    def rows(df: DataFrame): Seq[(Long, String, Long)] =
      df.orderBy($"user_id").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("v"),
          r.getAs[Long]("n"))).toSeq
    def merge(s: DataFrame, d: DataFrame): DataFrame =
      graft.streaming.Streams.tombstoneMerge(s, d, "user_id", "last_op")
    val snap0 = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("user_id", "v", "n")
    val delta1 = Seq((2L, "delete", "x", 99L), (3L, "upsert", "c", 30L))
      .toDF("user_id", "last_op", "v", "n")
    // delete removes the key; the tombstone's payload never lands
    val snap1 = merge(snap0, delta1)
    assert(rows(snap1) == Seq((1L, "a", 10L), (3L, "c", 30L)))
    // at-least-once replay: the same delta applied to the snapshot it
    // already produced is a no-op (foreachBatch's recovery contract)
    assert(rows(merge(snap1, delta1)) == rows(snap1))
    // a later upsert on the tombstoned key re-enters the snapshot —
    // latest-wins across ops, not delete-forever
    val delta2 = Seq((2L, "upsert", "b2", 21L))
      .toDF("user_id", "last_op", "v", "n")
    assert(rows(merge(snap1, delta2)) ==
      Seq((1L, "a", 10L), (2L, "b2", 21L), (3L, "c", 30L)))
  }

  test("q126 full-outer streaming join equals batch, orphans on BOTH sides") {
    import spark.implicits._
    val got = SparkEntry.queries("q126_stream_fullouter")(spark, sf)
      .collect().map(_.toSeq).toSeq
    // independent batch twin: the same interval condition as a plain
    // FULL OUTER DataFrame join, aggregated identically
    val ev = Tables.events(spark, sf)
      .select($"event_id", unix_micros($"ts").as("us"), $"user_id",
        $"event_type")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("luser"), $"us".as("lus"),
        $"event_id".as("levent"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("ruser"), $"us".as("rus"),
        $"event_id".as("revent"))
    val batch = c.join(p,
        $"luser" === $"ruser" && $"rus" >= $"lus" &&
          $"rus" <= $"lus" + 3600000000L,
        "fullOuter")
      .groupBy(coalesce($"luser", $"ruser").as("user_id"))
      .agg(
        sum(when($"levent".isNotNull && $"revent".isNotNull, 1L)
          .otherwise(0L)).as("n_pairs"),
        sum(when($"revent".isNull, 1L).otherwise(0L)).as("n_left_orphans"),
        sum(when($"levent".isNull, 1L).otherwise(0L)).as("n_right_orphans"),
      )
      .orderBy($"user_id")
      .collect().map(_.toSeq).toSeq
    assert(got == batch)
    // the fixture must genuinely exercise both eviction paths: clicks
    // that never converted AND purchases with no preceding click
    val totals = SparkEntry.queries("q126_stream_fullouter")(spark, sf)
      .agg(sum($"n_left_orphans"), sum($"n_right_orphans")).head
    assert(totals.getLong(0) > 0, "no left orphans — left eviction untested")
    assert(totals.getLong(1) > 0, "no right orphans — right eviction untested")
  }

  test("keyed chunked detect equals the per-stream global-window twin") {
    // the 10M bench row's plan at verification scale: 5 streams × 3000
    // events, C=512 (6 chunks/stream, ghost rows live) vs C larger than
    // any stream (one chunk per stream ≡ the global-window formulation,
    // ghosts vacuously empty) — identical totals or the overlap logic
    // double-counts / drops a boundary window somewhere
    val spec = gen.GenQueries.demoSpec(3000L)
    val got = gen.GenQueries.keyedDetect(spark, spec, nStreams = 5L,
      C = 512L).head.toSeq
    val twin = gen.GenQueries.keyedDetect(spark, spec, nStreams = 5L,
      C = 1L << 40).head.toSeq
    assert(got == twin)
    assert(got(1).asInstanceOf[Long] > 0L,
      "no labeled instances rediscovered — the fixture is degenerate")
  }

  test("q127 ivf-pq: recall@10 vs exact, ADC error bounded, probe-all no worse") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val exact = ops.Vectors.topKCosine(emb, queryVecId = 0L, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    val approx = SparkEntry.queries("q127_ivfpq_topk")(spark, sf)
      .select($"vec_id").as[Long].collect().toSet
    val recall = exact.intersect(approx).size / 10.0
    info(s"IVF-PQ recall@10 (nProbe=4/16, m=8, k=256, rerank=50): $recall")
    assert(recall >= 0.6,
      s"recall $recall collapsed — PQ codes, ADC, or the refine join broke")
    // probe-all removes coarse-quantizer loss; what remains is the PQ
    // shortlist, so recall must not DROP when probing more cells
    // (measured 1.0 on this fixture)
    val allCells = ops.Vectors.ivfPqTopK(emb, queryVecId = 0L, k = 10,
      nCells = 16, nProbe = 16, rerank = 50)
      .select($"vec_id").as[Long].collect().toSet
    val recallAll = exact.intersect(allCells).size / 10.0
    info(s"IVF-PQ recall@10 at nProbe=16/16: $recallAll")
    assert(recallAll >= 0.8,
      "probe-all + rerank lost true neighbors — the ADC shortlist is broken")
    assert(recallAll >= recall - 0.101,
      "probing MORE cells lost MORE neighbors — cell probe order is broken")
    // ADC is an approximation of true cosine, not a rank heuristic:
    // reconstructed dot must track the exact value on the returned rows
    val truth = ops.Vectors.topKCosine(emb, queryVecId = 0L, k = 499)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toMap
    val errs = ops.Vectors.ivfPqTopK(emb, queryVecId = 0L, k = 10,
      nCells = 16, nProbe = 16) // rerank=0: raw ADC ranking and scores
      .select($"vec_id", $"adc_cos").as[(Long, Double)].collect()
      .map { case (v, adc) => math.abs(adc - truth(v)) }
    info(f"IVF-PQ max ADC |err| on returned rows: ${errs.max}%.4f")
    assert(errs.max < 0.25,
      s"ADC error ${errs.max} — codebooks are not approximating the space")
    // the refine stage's exact column must BE exact: every rerank row's
    // cos equals the brute-force scan's value for that id
    ops.Vectors.ivfPqTopK(emb, queryVecId = 0L, k = 10,
      nCells = 16, nProbe = 16, rerank = 50)
      .select($"vec_id", $"cos").as[(Long, Double)].collect()
      .foreach { case (v, c) =>
        assert(math.abs(c - truth(v)) < 1e-9, s"refine cos drifted on $v")
      }
  }

  /** Reference classic BPE applier: ordered merges, each applied to the
    * symbol sequence left-to-right non-overlapping — the ground truth
    * the distributed replace-chain must match token-for-token.
    */
  private def refBpe(tok: String, merges: Seq[(String, String)]): Int = {
    val syms = scala.collection.mutable.ArrayBuffer(
      tok.map(_.toString): _*)
    merges.foreach { case (a, b) =>
      var i = 0
      while (i < syms.length - 1) {
        if (syms(i) == a && syms(i + 1) == b) {
          syms(i) = a + b; syms.remove(i + 1)
        }
        i += 1
      }
    }
    syms.length
  }

  test("q128 bpe: replace-chain apply == reference BPE; learned table deterministic") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
    val toks = docs
      .select(explode(regexp_extract_all($"text", lit(pat), lit(0)))
        .as("tok"))
      .select(trim($"tok").as("tok"))
      .filter(length($"tok") > 0)
      .distinct().orderBy($"tok").limit(300)
    // the fixed q128 table: distributed chain ≡ reference, per token —
    // this is the gate that catches the classic flat-replace bug where a
    // pair matches INSIDE a multi-char symbol (st+h vs (t,h))
    val gotFixed = toks
      .withColumn("n", ops.Text.applyMerges($"tok", ops.Text.bpeMerges))
      .as[(String, Int)].collect()
    gotFixed.foreach { case (t, n) =>
      assert(n == refBpe(t, ops.Text.bpeMerges),
        s"fixed-table mismatch on token '$t': chain=$n ref=${refBpe(t, ops.Text.bpeMerges)}")
    }
    // adversarial fixture for exactly that bug: with merges
    // (s,t),(t,h), "sth" must stay [st, h] = 2, never fuse to 1
    val hazard = Seq("sth").toDF("tok")
      .withColumn("n",
        ops.Text.applyMerges($"tok", Seq("s" -> "t", "t" -> "h")))
      .as[(String, Int)].head
    assert(hazard._2 == 2, s"boundary bug: 'sth' fused to ${hazard._2}")
    // learned table: deterministic across calls, equal to reference
    // apply, and genuinely compressing on the corpus it was learned from
    val m1 = ops.Text.learnBpeMerges(docs, nMerges = 24)
    val m2 = ops.Text.learnBpeMerges(docs, nMerges = 24)
    assert(m1 == m2, "learnBpeMerges is not deterministic")
    assert(m1.length == 24)
    val gotLearned = toks
      .withColumn("n", ops.Text.applyMerges($"tok", m1))
      .as[(String, Int)].collect()
    gotLearned.foreach { case (t, n) =>
      assert(n == refBpe(t, m1), s"learned-table mismatch on token '$t'")
    }
    assert(gotLearned.map(_._2).sum < gotFixed.map(_._1.length).sum,
      "learned merges achieved zero compression on their own corpus")
    // q54's packing invariant re-proven on REAL (merged) token counts:
    // chunking conserves exactly the BPE tokens the docs contain
    val withBpe = docs
      .withColumn("toks", filter(
        regexp_extract_all($"text", lit(pat), lit(0)),
        t => length(trim(t)) > 0))
      .withColumn("n_bpe", aggregate($"toks", lit(0L),
        (acc, t) => acc + ops.Text.applyMerges(trim(t), m1).cast("long")))
    val totalBpe = withBpe.agg(sum($"n_bpe")).head.getLong(0)
    val packed = ops.Corpus.packChunks(
      docs.select($"doc_id", $"text"), chunkTokens = 16)
    val packedTotal = packed.agg(sum($"n_chunk_tokens")).head.getLong(0)
    val wsTotal = docs
      .agg(sum(size(split($"text", " ")))).head.getLong(0)
    assert(packedTotal == wsTotal,
      "q54 packing no longer conserves whitespace tokens")
    assert(totalBpe >= wsTotal,
      "BPE token total below whitespace total — merge counting is broken")
    info(s"corpus tokens: ws=$wsTotal bpe(learned)=$totalBpe packed=$packedTotal")
  }

  test("q131 shard packing: partition-count independent, conserving, == reference fold") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val budget = 256L
    val a = ops.Corpus.packShards(docs, budget, nParts = 32)
      .select($"doc_id", $"n_toks", $"shard")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // the scale knob must not change the answer: 3 range partitions and
    // 32 walk different two-pass offsets to the same global prefix sums
    val b = ops.Corpus.packShards(docs, budget, nParts = 3)
      .select($"doc_id", $"n_toks", $"shard")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b), "shard assignment depends on nParts")
    // reference: a driver-side fold over the same (md5, doc_id) order
    val ref = docs
      .select($"doc_id", md5($"text").as("h"),
        size(split($"text", " ")).cast("long").as("n"))
      .as[(Long, String, Long)].collect()
      .sortBy { case (id, h, _) => (h, id) }
    var run = 0L
    val expect = ref.map { case (id, _, n) =>
      val sh = run / budget; run += n; (id, n, sh)
    }.sortBy(_._1)
    assert(a.sameElements(expect), "two-pass prefix != reference fold")
    assert(a.map(_._2).sum == run, "token mass not conserved")
    // shards are contiguous, and each non-final shard's token mass is at
    // least budget minus the worst-case spill of the PREVIOUS shard's
    // last document across the boundary (a doc of n tokens starting
    // before the boundary can occupy up to n-1 of this shard's range)
    val byShard = a.groupBy(_._3).toSeq.sortBy(_._1)
    assert(byShard.map(_._1) == (0L until byShard.length.toLong),
      "shard ids not contiguous from 0")
    val maxDoc = a.map(_._2).max
    byShard.dropRight(1).foreach { case (sh, rows) =>
      assert(rows.map(_._2).sum >= budget - maxDoc + 1,
        s"shard $sh ended before filling its budget")
    }
  }

  test("q129 LOCF: gap hours carry the last observed value, never zero-fill") {
    import spark.implicits._
    val got = SparkEntry.queries("q129_gapfill_locf")(spark, sf)
      .select($"event_type", $"hour_id", $"n_events", $"cents_locf")
      .as[(String, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // the spine is dense per type
    got.groupBy(_._1).foreach { case (t, rows) =>
      val hours = rows.map(_._2).sorted
      assert(hours.last - hours.head + 1 == hours.length,
        s"$t spine has holes")
    }
    // LOCF semantics on the real data: every gap hour (n_events == 0)
    // reports exactly the previous hour's carried value, and observed
    // hours report their own aggregate (spot-checked against a direct
    // per-hour aggregate)
    val direct = Tables.events(spark, sf)
      .groupBy($"event_type",
        expr("unix_micros(ts) DIV 3600000000").as("hour_id"))
      .agg(sum(expr("CAST(ROUND(value * 100) AS LONG)")).as("cents"))
      .as[(String, Long, Long)].collect()
      .map { case (t, h, c) => (t, h) -> c }.toMap
    val gaps = got.count(_._3 == 0L)
    assert(gaps > 0, "fixture has no gap hours — LOCF untested")
    got.groupBy(_._1).foreach { case (_, rows) =>
      var carried = Long.MinValue
      rows.sortBy(_._2).foreach { case (t, h, n, locf) =>
        if (n == 0L) assert(locf == carried, s"$t/$h gap did not carry")
        else {
          assert(locf == direct((t, h)), s"$t/$h observed hour wrong")
          carried = locf
        }
      }
    }
  }

  test("q134 z-order: BOTH time and user predicates skip row groups; time-only layout cannot") {
    import spark.implicits._
    // sf0.01 so the 16KB-block staged layouts hold several row groups
    // per file (same rationale as the q111/q116 scan-metric proofs)
    val sf01 = "/root/testdata/sf0.01"
    assert(SparkEntry.queries("q134_zorder_layout")(spark, sf01).count() > 0)
    assert(SparkEntry.queries("q111_clustered_scan")(spark, sf01).count() > 0)
    val tag = sf01.replaceAll("[^A-Za-z0-9]", "_")
    val zDir = s"target/stage_sources/zorder_$tag/events_z"
    val tDir = s"target/stage_sources/sorted_$tag/events_by_ts"
    val ev = Tables.events(spark, sf01)
      .select(unix_micros($"ts").as("us"), $"user_id")
    val total = ev.count()
    val b = ev.agg(min($"us"), max($"us"), max($"user_id")).head
    val (lo, hi, maxU) = (b.getLong(0), b.getLong(1), b.getLong(2))
    def scanRows(dir: String, pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(dir).filter(pred)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }.getOrElse(fail(s"no FileSourceScanExec leaf for $dir"))
      scan.metrics("numOutputRows").value
    }
    // user band alone: the z layout clusters user ranges into row
    // groups, so min/max stats skip; the time-sorted layout interleaves
    // every user through every row group, so stats skip NOTHING
    val userBand = col("user_id") >= maxU / 2
    val zUser = scanRows(zDir, userBand)
    val tUser = scanRows(tDir, userBand)
    info(s"user-band scan: z=$zUser time-sorted=$tUser of $total")
    assert(tUser == total,
      "time-sorted layout unexpectedly skipped on user_id — fixture broken")
    // scan-split sampling moves row-group boundaries a little between
    // runs (measured 7.2-7.7k of 10k) — gate the qualitative claim
    // (genuine skipping on a dimension the time layout cannot skip at
    // all), not a boundary-sensitive exact fraction
    assert(zUser < (total * 17) / 20,
      s"z-order skipped too little on user_id: $zUser of $total")
    // time slice alone: BOTH layouts skip (z is coarser — it trades a
    // little time locality for user locality, never all of it)
    val timeSlice = col("us") <= lo + (hi - lo) / 10
    val zTime = scanRows(zDir, timeSlice)
    val tTime = scanRows(tDir, timeSlice)
    info(s"time-slice scan: z=$zTime time-sorted=$tTime of $total")
    assert(tTime < total / 3, "time-sorted layout failed its own dimension")
    assert(zTime < (total * 3) / 4,
      s"z-order skipped too little on time: $zTime of $total")
  }

  test("q137 CMS: one-sided bound holds; per-shard sketches merged == global") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    val n = ev.count()
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    // registered row: est >= exact always; over-count <= eps*N + slack
    val got = SparkEntry.queries("q137_cms_heavyhitters")(spark, sf)
      .select($"user_id", $"exact", $"est_cms")
      .as[(Long, Long, Long)].collect()
    assert(got.length == math.min(10, exact.size))
    got.foreach { case (u, ex, est) =>
      assert(ex == exact(u), s"exact count drifted for $u")
      assert(est >= ex, s"CMS under-counted $u: $est < $ex")
      assert(est <= ex + (n / 1000) + 10,
        s"CMS over-count for $u beyond eps*N: $est vs $ex (N=$n)")
    }
    // merge property: sketches built per event_type (the per-shard
    // shape) merged by counter addition must estimate IDENTICALLY to
    // one sketch over everything, for every key — not approximately
    val cmsSql = "count_min_sketch(user_id, CAST(0.001 AS DOUBLE), " +
      "CAST(0.99 AS DOUBLE), 42)"
    val global = ops.Scale.readCms(
      ev.agg(expr(cmsSql)).head.getAs[Array[Byte]](0))
    val parts = ev.groupBy($"event_type").agg(expr(cmsSql).as("sk"))
      .select($"sk").as[Array[Byte]].collect()
    assert(parts.length > 1, "fixture has one shard — merge untested")
    val merged = ops.Scale.readCms(parts.head)
    parts.tail.foreach(b => merged.mergeInPlace(ops.Scale.readCms(b)))
    exact.keys.foreach { u =>
      assert(merged.estimateCount(u) == global.estimateCount(u),
        s"merged != global estimate for $u")
    }
  }

  test("AQE splits a skewed SMJ partition — the automatic twin of q47's salting") {
    import spark.implicits._
    // SURVEY's skew story has two halves: explicit salting (q47, proven
    // result-identical) and AQE's runtime skew-join split. This pins the
    // second half ACTUALLY FIRES: with the skew thresholds scaled to
    // test-fixture bytes, a hot-key SMJ partition must be split (the
    // final plan advertises skew=true), and the result must equal the
    // same join with AQE skew handling off.
    val keys = (0 until 50).map(_.toLong)
    val hot = Seq.fill(200000)(0L)
    val uniform = (1 to 2000).map(i => keys(i % 50))
    val fact = (hot ++ uniform).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("key", "row_id")
      .repartition(8)
    val dim = keys.map(k => (k, s"name_$k")).toDF("key", "name")
      .repartition(4)
    import SparkTestSession.withConf
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
    ) {
      val joined = fact.join(dim, "key")
      // AQE finalizes lazily — execute THIS plan (count() would build
      // and finalize a different one), then inspect
      val n = joined.collect().length.toLong
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
      val nOff = withConf(
        "spark.sql.adaptive.skewJoin.enabled" -> "false") {
        fact.join(dim, "key").count()
      }
      assert(n == nOff, "skew-split join changed the result")
      assert(n == 202000L)
    }
  }

  test("Trigger.AvailableNow catch-up run equals the batch aggregate") {
    import spark.implicits._
    // Every streaming harness drives queries with processAllAvailable();
    // production catch-up jobs use Trigger.AvailableNow (process all
    // data available NOW, in rate-limited batches, then stop). Pin that
    // the trigger semantics, not the harness idiom, produce the batch
    // answer: a file-source windowed count under AvailableNow must equal
    // the batch groupBy on the same staged files.
    val root = java.nio.file.Files.createTempDirectory("graft_an")
    val src = root.resolve("src"); java.nio.file.Files.createDirectories(src)
    val ck = root.resolve("ck").toString
    try {
      val rows = (0 until 3000).map { i =>
        (i.toLong, 1000000000000000L + i.toLong * 60000000L,
          (i % 7).toLong, if (i % 3 == 0) "click" else "view", 0.0, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(3).write.parquet(src.toString + "/p")
      val schema = spark.read.parquet(src.toString + "/p").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // rate limit: several batches
        .parquet(src.toString + "/p")
        .groupBy($"event_type").count()
      val q = stream.writeStream
        .outputMode("complete")
        .format("memory").queryName("an_counts")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      assert(!q.isActive, "AvailableNow query did not self-terminate")
      val got = spark.table("an_counts")
        .as[(String, Long)].collect().toMap
      val expect = spark.read.parquet(src.toString + "/p")
        .groupBy($"event_type").count()
        .as[(String, Long)].collect().toMap
      assert(got == expect, s"AvailableNow $got != batch $expect")
    } finally {
      graft.streaming.Streams.deleteStaged(root)
    }
  }

  test("SessionCloser drops a straggler between the two watermarks") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // A batch runs under TWO watermarks: late-record admission (the
    // previous batch's eviction value) and eviction (advanced by the
    // previous batch's max event time). A straggler BETWEEN them is
    // admitted by the operator's late filter but sits below the value
    // SessionCloser reads via getCurrentWatermarkInMs(). This pins the
    // processor's behavior for that window: the row is DROPPED —
    // getCurrentWatermarkInMs() is the EVICTION watermark, so the
    // processor's cutoff equals the one the same batch's timer pass
    // closes against, which is exactly the determinism the q113 batch
    // oracle needs (a session can never be extended by a row the
    // eviction sweep has already sealed past).
    withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_wm").toString
      def writeBatch(rows: Seq[(Long, Long)], ageSec: Long): Unit = {
        rows.map { case (u, sec) => (u, sec * 1000000L) }
          .toDF("user_id", "us").coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
        // stamp mtimes so maxFilesPerTrigger=1 serves files oldest-first
        // in the order written (write cadence alone can tie at ms grain)
        val now = System.currentTimeMillis()
        scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$tmp/src"))) { l =>
          import scala.jdk.CollectionConverters._
          l.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .foreach { p =>
              val t = java.nio.file.Files.getLastModifiedTime(p).toMillis
              if (t > now - 5000) // only freshly-written parts
                java.nio.file.Files.setLastModifiedTime(p,
                  java.nio.file.attribute.FileTime.fromMillis(
                    now - ageSec * 1000))
            }
        }
      }
      val gapUs = 60L * 1000000L
      implicit val outEnc = org.apache.spark.sql.Encoders.product[
        graft.streaming.Streams.ClosedSession]
      // file A: u1 opens at t=0; u9's far row advances the watermark to
      // 10000s AFTER batch 1. file B: u1 straggler at t=5000s — above
      // batch 2's late-admission watermark (0) and below its eviction
      // watermark (10000s).
      writeBatch(Seq((1L, 0L), (9L, 10000L)), ageSec = 60)
      writeBatch(Seq((1L, 5000L)), ageSec = 0)
      val q = spark.readStream
        .schema("user_id LONG, us LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/src")
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "0 seconds")
        .select($"user_id", $"us")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.SessionCloser(gapUs),
          TimeMode.EventTime(), OutputMode.Update())
        .toDF().writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val got = spark.read.parquet(s"$tmp/out")
        .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000L,
          r.getLong(2) / 1000000L, r.getLong(3))).toSet
      // dropped straggler: u1 closes as the single-row session the
      // timer sealed; an admitted straggler would surface as an extra
      // (1, 5000, 5000, 1) session. u9 stays open (expiry 10060s is
      // past the final watermark).
      assert(got == Set((1L, 0L, 0L, 1L)),
        s"straggler handling changed: $got")
    }
  }

  test("q143 triangles: hub graph exact; count == brute-force enumeration") {
    import spark.implicits._
    // K5 on {1..5} (10 triangles) + a degree-heavy hub 100 attached to
    // 20 leaves (no triangles) + one triangle {100, 200, 201} through
    // the hub. Degree orientation must enumerate wedges at LOW-degree
    // corners, so the hub contributes no wedge blow-up, yet its one
    // genuine triangle still counts exactly once.
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val star = (300L until 320L).map(l => (100L, l))
    val extra = Seq((100L, 200L), (100L, 201L), (200L, 201L))
    val edges = (k5 ++ star ++ extra).toDF("a", "b")
    val got = graft.ops.Graph.triangleCount(edges)
      .select($"n_nodes", $"n_edges", $"n_triangles")
      .as[(Long, Long, Long)].head()
    // brute force over the same edge set
    val es = (k5 ++ star ++ extra).toSet
    val ns = es.flatMap(e => Seq(e._1, e._2))
    val brute = (for {
      x <- ns; y <- ns if x < y; z <- ns if y < z
      if es((x, y)) && es((x, z)) && es((y, z))
    } yield (x, y, z)).size
    assert(brute == 11)
    assert(got == ((ns.size.toLong, es.size.toLong, brute.toLong)))
  }

  test("parquet aggregate pushdown: COUNT/MIN/MAX answered from footers") {
    // The 100 TB scan-avoidance endgame: with DSv2 parquet +
    // aggregatePushDown, a filterless COUNT/MIN/MAX aggregate is
    // answered from row-group STATISTICS (footer metadata) — the scan
    // ships one pre-aggregated row per file, never the rows themselves.
    val pushed = SparkTestSession.withConf(
      "spark.sql.sources.useV1SourceList" -> "", // parquet via DSv2
      "spark.sql.parquet.aggregatePushdown" -> "true") {
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .selectExpr("count(*) AS n", "min(l_quantity) AS mn",
          "max(l_quantity) AS mx")
      val rows = df.collect().toSeq.map(_.toSeq)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate not pushed to the scan:\n$p")
      rows
    }
    // control: the row-scanning (v1, no-pushdown) answer must be equal —
    // footer statistics are an OPTIMIZATION, never a semantics change
    val ctrl = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("count(*) AS n", "min(l_quantity) AS mn",
        "max(l_quantity) AS mx")
    val ctrlP = ctrl.queryExecution.executedPlan.toString
    assert(!ctrlP.contains("PushedAggregation: [COUNT"),
      "control run unexpectedly pushed the aggregate")
    val want = ctrl.collect().toSeq.map(_.toSeq)
    assert(want.nonEmpty && want.head.head.asInstanceOf[Long] > 0L)
    assert(want == pushed, "footer answer != row-scan answer")
  }

  test("bucket pruning: a point filter on the bucket key reads 1 of 16 buckets") {
    import spark.implicits._
    // q88's tables pay the shuffle at write time for exchange-free
    // joins; the SAME layout also prunes POINT LOOKUPS — hashing the
    // literal selects one bucket's files, so a key probe on a 100 TB
    // bucketed fact touches 1/16th of the data before any row filter.
    graft.ops.Scale.ensureBucketedTables(spark, sf)
    val (ot, _) = graft.ops.Scale.bucketedTables(sf)
    // the planner auto-disables bucketed scans that feed no
    // distribution-requiring operator (DisableUnnecessaryBucketedScan);
    // a bare point lookup must opt back in to claim the pruning
    SparkTestSession.withConf(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val probe = spark.table(ot).filter($"o_custkey" === 7L)
      val p = probe.queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount: 1 out of 16"),
        s"bucket pruning not applied:\n$p")
      // and the pruned read returns exactly the full-scan answer
      val want = Tables.orders(spark, sf).filter($"o_custkey" === 7L).count()
      assert(probe.count() == want)
    }
  }

  test("fanoutInstall: replaying a batch id replaces, never duplicates") {
    import spark.implicits._
    val sink = java.nio.file.Files.createTempDirectory("fanout")
      .resolve("clean")
    val b = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    graft.streaming.Streams.fanoutInstall(b, sink, 3L)
    def readAll(): Seq[Seq[Any]] = spark.read
      .option("recursiveFileLookup", "true").parquet(sink.toString)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val first = readAll()
    assert(first.size == 2)
    // at-least-once replay: the same batch id installs into the same
    // commit unit — the sink's TOTAL content must not change
    graft.streaming.Streams.fanoutInstall(b, sink, 3L)
    assert(readAll() == first, "replay duplicated the batch")
    // and exactly one commit unit exists (no tmp residue, no b3 copy)
    val entries = scala.util.Using.resource(
      java.nio.file.Files.list(sink))(s =>
      s.map[String](_.getFileName.toString).toArray.toSeq)
    assert(entries == Seq("b3"), s"unexpected sink entries: $entries")
    // a DIFFERENT batch id is a new commit unit, not an overwrite
    graft.streaming.Streams.fanoutInstall(b, sink, 4L)
    assert(readAll().size == 4)
  }

  test("semanticDedup: one cell ≡ global brute force; cells are consistent") {
    import ops.Vectors
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val tau = 0.38
    // in-memory reference: normalized vectors keyed by vec_id
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])]
      .collect().toMap.view.mapValues { v =>
        val a = v.map(_.toDouble).toArray
        val n = math.sqrt(a.map(x => x * x).sum)
        if (n > 0) a.map(_ / n) else a
      }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def bruteKeep(ids: Seq[Long]): Set[Long] = {
      val sorted = ids.sorted
      sorted.filter { id =>
        !sorted.exists(o => o < id && cos(vecs(o), vecs(id)) >= tau)
      }.toSet
    }
    // nCells = 1: every pair is in the one cell, so the survivor set
    // must equal the global SemDeDup keep-first rule exactly
    val oneCell = Vectors.semanticDedup(emb, nCells = 1, tau = tau)
      .select($"vec_id").as[Long].collect().toSet
    assert(oneCell == bruteKeep(vecs.keys.toSeq),
      s"single-cell SemDeDup diverges from brute force")
    // nCells = 16: per-cell survivors must equal brute force restricted
    // to that cell's members (internal consistency of the banded plan)
    val cents = Vectors.ivfCentroids(emb, nCells = 16)
    val cellOf = Vectors.ivfIndex(emb, cents, nCells = 16)
      .select($"vec_id", $"cell")
      .as[(Long, Int)]
      .collect().toMap
    val got = Vectors.semanticDedup(emb, nCells = 16, tau = tau)
      .select($"vec_id").as[Long].collect().toSet
    val want = cellOf.groupBy(_._2).values
      .flatMap(m => bruteKeep(m.keys.toSeq)).toSet
    assert(got == want, "per-cell SemDeDup diverges from in-cell brute force")
    // and the pruning is non-trivial on the fixture: something dropped,
    // most kept
    assert(got.size < vecs.size && got.size > vecs.size / 2)
    // planted exact duplicates: a copy has cosine 1 with its source and
    // an identical cell assignment, so it must be pruned at ANY τ —
    // the "true dup never survives banding" guarantee
    val planted = emb.limit(5)
      .withColumn("vec_id", col("vec_id") + 10000L)
    val withDups = emb.unionByName(planted)
    val survivors = Vectors.semanticDedup(withDups, nCells = 16, tau = 0.97)
      .select($"vec_id").as[Long].collect().toSet
    assert((0 until 5).forall(i => !survivors.exists(_ >= 10000L)),
      "a planted exact duplicate survived semantic dedup")
  }

  test("CDC merge laws hold on randomized snapshots and deltas") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the two laws foreachBatch recovery leans on, checked over random
    // frames instead of the single fixture above: (1) idempotence —
    // replaying a delta over its own result is a no-op; (2) deltas on
    // DISJOINT key sets commute — microbatch key-partitioning can't
    // change the final snapshot
    def df(rows: List[(Long, String, Long)]) =
      rows.toDF("user_id", "last_op", "n")
    def canon(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.select($"user_id", $"n").as[(Long, Long)].collect().toSet
    val row = for {
      k  <- Gen.choose(0L, 6L)
      op <- Gen.oneOf("upsert", "delete")
      n  <- Gen.choose(0L, 99L)
    } yield (k, op, n)
    // one row per key: a delta is the post-aggregation latest-wins form
    val delta = Gen.listOf(row).map(_.groupBy(_._1).map(_._2.head).toList)
    val snap = Gen.listOf(Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 99L)))
      .map(_.groupBy(_._1).map(_._2.head).toList
        .map { case (k, n) => (k, "live", n) })
    def merge(s: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) =
      graft.streaming.Streams.tombstoneMerge(s, d, "user_id", "last_op")
    val idem = Prop.forAll(snap, delta) { (s, d) =>
      val once = merge(df(s).drop("last_op"), df(d))
      canon(merge(once, df(d))) == canon(once)
    }
    val commute = Prop.forAll(snap, delta, delta) { (s, d1, d2) =>
      // force disjoint key ranges: d1 keeps keys 0-2, d2 keys 3-6
      val a = d1.filter(_._1 <= 2L)
      val b = d2.filter(_._1 >= 3L)
      val s0 = df(s).drop("last_op")
      canon(merge(merge(s0, df(a)), df(b))) ==
        canon(merge(merge(s0, df(b)), df(a)))
    }
    for (p <- Seq(idem, commute)) {
      val res = SCTest.check(
        SCTest.Parameters.default.withMinSuccessfulTests(30), p)
      assert(res.passed, res.status.toString)
    }
  }

  test("q162 bloom layout: point lookup skips row groups stats cannot") {
    import spark.implicits._
    val sf01 = "/root/testdata/sf0.01"
    // materialize the bloom-enabled layout (and prove value correctness
    // en passant — the oracle gates it too)
    assert(SparkEntry.queries("q162_bloom_lookup")(spark, sf01).count() == 1)
    val tag = sf01.replaceAll("[^A-Za-z0-9]", "_")
    val bloomDir = s"target/stage_sources/bloom_$tag/events_bloom"
    // control: byte-identical layout, bloom filter off
    val plainDir = s"target/stage_sources/bloom_$tag/events_plain"
    spark.read.parquet(bloomDir)
      .coalesce(1).sortWithinPartitions($"us")
      .write.mode("overwrite")
      .option("parquet.block.size", "16384")
      .parquet(plainDir)
    val total = spark.read.parquet(bloomDir).count()
    val target = spark.read.parquet(bloomDir)
      .orderBy($"event_id").select($"h").head.getLong(0)
    def scanRows(dir: String): Long = {
      val q = spark.read.parquet(dir).filter($"h" === target)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }.getOrElse(fail(s"no FileSourceScanExec leaf for $dir"))
      scan.metrics("numOutputRows").value
    }
    val plain = scanRows(plainDir)
    val bloom = scanRows(bloomDir)
    // h is uniform through the time-sorted groups: min/max stats skip
    // nothing on the control...
    assert(plain == total,
      s"control unexpectedly skipped ($plain of $total) — fixture broken")
    // ...while the bloom filter proves absence for all but ~1 row group
    assert(bloom < total / 5,
      s"bloom filter skipped too little: $bloom of $total")
  }

  test("events readers absorb BOTH ts layouts: TIMESTAMP(NANOS) and µs") {
    import spark.implicits._
    // The driver's testdata has shipped events.ts as parquet
    // TIMESTAMP(NANOS) in some generations and plain µs TIMESTAMP_NTZ in
    // others; round 10 hit the flip live (32 suites red until the
    // readers became layout-adaptive). Stage the SAME four events in
    // both layouts and require batch + streaming readers to agree.
    val root = java.nio.file.Files
      .createTempDirectory("graft_layout").toString
    val rows = Seq(
      (1L, 1700000000000000L, 10L, "click", 1.0, "{}"),
      (2L, 1700000001000000L, 10L, "purchase", 2.0, "{}"),
      (3L, 1700000002000000L, 11L, "click", 3.0, "{}"),
      (4L, 1700003602000000L, 11L, "view", 4.0, "{}"))
    val base = rows.toDF(
      "event_id", "ts_us", "user_id", "event_type", "value", "props")
    val nanosDir = s"$root/nanos"
    val microsDir = s"$root/micros"
    // legacy layout: a REAL parquet TIMESTAMP(NANOS) column, written
    // through parquet-mr directly (Spark cannot author one — its writer
    // tops out at µs), so the test drives the actual decode path:
    // without the nanosAsLong flag this file is unreadable
    // ([PARQUET_TYPE_ILLEGAL]), with it the column surfaces as LONG
    // nanos, which is exactly what the legacy driver testdata did.
    locally {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = Types.buildMessage()
        .required(INT64).named("event_id")
        .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
        .required(INT64).named("user_id")
        .required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("event_type")
        .required(DOUBLE).named("value")
        .required(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("props")
        .named("events")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(nanosDir))
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet"))
        .withType(schema)
        .build()
      val gf = new SimpleGroupFactory(schema)
      try rows.foreach { r =>
        val g = gf.newGroup()
        g.add("event_id", r._1)
        g.add("ts", r._2 * 1000L) // nanos
        g.add("user_id", r._3)
        g.add("event_type", r._4)
        g.add("value", r._5)
        g.add("props", r._6)
        w.write(g)
      } finally w.close()
    }
    // current layout: µs TIMESTAMP_NTZ
    base.withColumn("ts",
        expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)"))
      .drop("ts_us")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value",
        $"props")
      .coalesce(1).write.parquet(s"$microsDir/stage")
    // rename the single part file to the driver's literal layout
    locally {
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$microsDir/stage"))) {
        l => l.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst.get
      }
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(microsDir, "events.parquet"))
    }
    def batchRows(d: String): Seq[(Long, Long)] =
      Tables.events(spark, d)
        .select($"event_id", unix_micros($"ts").as("us"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val want = rows.map(r => (r._1, r._2))
    assert(batchRows(nanosDir) == want, "batch read of nanos layout")
    assert(batchRows(microsDir) == want, "batch read of µs layout")
    // one streaming harness per layout: the hourly rollup runs the
    // detect→schema→wts conversion end to end
    def hourly(d: String): Seq[(Long, String, Long)] =
      graft.streaming.Streams.hourlyTypeCounts(spark, d)
        .select($"hour_us", $"event_type", $"n")
        .as[(Long, String, Long)].collect().toSeq
    assert(hourly(nanosDir) == hourly(microsDir),
      "streaming rollup diverges between ts layouts")
    graft.streaming.Streams.deleteStaged(java.nio.file.Paths.get(root))
  }
}
