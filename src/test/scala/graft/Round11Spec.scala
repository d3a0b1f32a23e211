package graft

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 additions, locked: the incremental dedup step (q177) must
  * be replay-idempotent — the crash-recovery contract a cross-run
  * pipeline stage needs. Full-recompute parity (incremental ≡ whole
  * corpus dedup) is the driver's oracle gate; what ONLY a spec can
  * prove is what happens when the same delta is delivered twice.
  */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q177 replay: same delta on the updated store — identical ledger, unchanged store") {
    import spark.implicits._
    // first delivery: builds store v1 from the base batch, dedups the
    // delta against it, writes store v2
    val first = SparkEntry.queries("q177_incremental_dedup")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(first.nonEmpty)
    // the delta genuinely both kept and lost passages — otherwise the
    // cross-batch suppression this operator exists for never fired
    val nPassages = first.map(_(1).asInstanceOf[Long]).sum
    val nKept = first.map(_(2).asInstanceOf[Long]).sum
    assert(nKept > 0 && nKept < nPassages)

    val root = ops.Text.q177StoreRoot(sf)
    val delta = Tables.documents(spark, sf).where($"doc_id" % 10 >= 8)
    // redelivery: the SAME delta against the store it already updated.
    // Winners for its passages now resolve to the delta's own positions,
    // so the ledger reproduces exactly (not empty, not doubled) and the
    // store gains nothing.
    val replay = ops.Text
      .incrementalDedupStep(spark, delta, s"$root/v2", s"$root/v3")
      .collect().map(_.toSeq).toSeq
    assert(replay == first)
    val v1 = spark.read.parquet(s"$root/v1").collect().map(_.toSeq).toSet
    val v2 = spark.read.parquet(s"$root/v2").collect().map(_.toSeq).toSet
    val v3 = spark.read.parquet(s"$root/v3").collect().map(_.toSeq).toSet
    assert(v3 == v2)
    // and the first delivery genuinely extended the base-batch store
    assert(v1.subsetOf(v2) && v1.size < v2.size)
  }

  test("q180 approx profile: exact columns equal q171, estimates within 3×rsd") {
    def byCol(rows: Array[org.apache.spark.sql.Row], ndField: String) =
      rows.map { r =>
        r.getAs[String]("column_name") ->
          ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_notnull"),
            r.getAs[Long]("n_null"), r.getAs[String]("min_str"),
            r.getAs[String]("max_str")), r.getAs[Long](ndField))
      }.toMap
    val exact = byCol(
      SparkEntry.queries("q171_column_profile")(spark, sf).collect(),
      "n_distinct")
    val approx = byCol(
      SparkEntry.queries("q180_approx_profile")(spark, sf).collect(),
      "n_approx_distinct")
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, ((nr, nn, nl, mn, mx), nd)) =>
      val ((anr, ann, anl, amn, amx), and) = approx(c)
      // everything except the sketch is exact arithmetic — must be EQUAL
      assert((anr, ann, anl, amn, amx) == ((nr, nn, nl, mn, mx)),
        s"$c: exact columns diverged")
      // HLL++ at rsd=0.05: |est - exact| within 3σ = 15%
      assert(math.abs(and - nd) <= math.max(1L, (0.15 * nd).toLong),
        s"$c: approx distinct $and vs exact $nd out of bound")
    }
  }

  test("q179 distributed Viterbi ≡ driver reference on every corpus word") {
    import spark.implicits._
    val costs = ops.Text.unigramPieces.toMap
    val words = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
      .where(org.apache.spark.sql.functions.length($"tok") > 0)
      .distinct()
    val got = words
      .withColumn("m", ops.Text.unigramM($"tok", ops.Text.unigramPieces))
      .as[(String, Long)].collect().toMap
    assert(got.nonEmpty)
    got.foreach { case (w, m) =>
      val (refM, _) = ops.Text.unigramSegmentRef(w, costs)
      assert(m == refM, s"word '$w': HOF DP $m vs reference $refM")
    }
    // the table genuinely compresses: some word segments as ONE piece
    // and fertility stays below chars-per-word
    val refs = got.keys.map(w =>
      w -> ops.Text.unigramSegmentRef(w, costs)._2).toMap
    assert(refs.values.exists(_.length == 1), "no whole-word piece fired")
    assert(refs.forall { case (w, p) => p.length <= w.length })
  }

  test("unigram EM trainer: deterministic, char-fallback-complete, and self-consistent") {
    val docs = Tables.documents(spark, sf)
    val t1 = ops.Text.learnUnigramPieces(docs)
    val t2 = ops.Text.learnUnigramPieces(docs)
    assert(t1 == t2, "trainer not deterministic")
    assert(t1.nonEmpty && t1.forall(_._2 > 0L))
    // every char of the training vocab survives as a piece — the
    // fallback guarantee that keeps segmentation total
    import spark.implicits._
    val vocabChars = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
      .distinct().as[String].collect()
      .flatMap(_.toSeq).toSet
    val pieceSet = t1.map(_._1).toSet
    assert(vocabChars.forall(c => pieceSet.contains(c.toString)))
    // applying the LEARNED table distributed ≡ driver reference — the
    // learn→apply loop closes without the shipped constant in between
    val costs = t1.toMap
    val sample = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
      .where(org.apache.spark.sql.functions.length($"tok") > 0)
      .distinct()
      .withColumn("m", ops.Text.unigramM($"tok", t1))
      .as[(String, Long)].collect()
    sample.foreach { case (w, m) =>
      assert(m == ops.Text.unigramSegmentRef(w, costs)._1, s"word '$w'")
    }
  }

  test("q181 graph ANN: recall vs exact scan, probe set bounded") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val exact = ops.Vectors
      .topKCosine(emb, queryVecId = 0L, k = 10)
      .select($"vec_id").as[Long].collect().toSet
    val got = SparkEntry.queries("q181_knn_graph_ann")(spark, sf).collect()
    assert(got.length == 10)
    val gotIds = got.map(_.getAs[Long]("vec_id")).toSet
    val nScored = got.head.getAs[Long]("n_scored")
    val recall = gotIds.intersect(exact).size / 10.0
    info(s"recall@10 = $recall, n_scored = $nScored")
    assert(recall >= 0.7, s"graph-ANN recall@10 $recall below 0.7")
    // the probe-cost claim: the walk touched a bounded neighborhood,
    // not the corpus (beam·degree·hops + seeds ≪ 500 vectors)
    assert(nScored <= 300, s"visited $nScored — walk not bounded")
    assert(nScored < emb.count(), "walk degenerated to a full scan")
  }

  test("q182 incremental near-dup: brute-force reference, determinism, replay decisions") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // run the registered (parquet-backed) operator twice — deterministic
    val ledger = rows(SparkEntry.queries("q182_incremental_neardup")(spark, sf))
    val ledger2 = rows(SparkEntry.queries("q182_incremental_neardup")(spark, sf))
    assert(ledger == ledger2, "q182 not deterministic across runs")
    assert(ledger.nonEmpty)

    // independent driver-side brute-force reference: collect every sig
    // (bounded — 500 docs at sf0.001), rebuild bands/buckets/guard and
    // the store rule in plain Scala with NO Spark joins — the strongest
    // cross-check of the whole banding machinery
    val sigs = Tables.documents(spark, sf)
      .select($"doc_id",
        graft.functions.TextHashExprs.minhashSig(spark,
          graft.functions.TextHashExprs.shingleHashes(spark, $"text", 3),
          32).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def bkeys(s: Array[Long]): Seq[(Int, Seq[Long])] =
      (0 until 8).map(b => b -> s.slice(b * 4, b * 4 + 4).toSeq)
    def matches(a: Array[Long], b: Array[Long]): Int =
      a.zip(b).count { case (x, y) => x == y }
    val base = sigs.keys.filter(_ % 10 < 8).toSeq.sorted
    val delta = sigs.keys.filter(_ % 10 >= 8).toSeq.sorted
    // bucket map with the same maxBucket=64 guard, per population
    def buckets(ids: Seq[Long]): Map[(Int, Seq[Long]), Seq[Long]] =
      ids.flatMap(d => bkeys(sigs(d)).map(k => k -> d))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        .filter(_._2.size <= 64)
    def collides(d: Long, others: Seq[Long]): Seq[Long] =
      others.filter(o => o != d && matches(sigs(d), sigs(o)) >= 16 &&
        bkeys(sigs(d)).toSet.intersect(bkeys(sigs(o)).toSet).nonEmpty)
    // phase 1 (empty store): base kept = no smaller-id base collision
    def batchPartners(ids: Seq[Long]): Map[Long, Seq[Long]] = {
      val bk = buckets(ids)
      ids.map { d =>
        val cands = bkeys(sigs(d)).flatMap(k => bk.getOrElse(k, Nil))
          .distinct.filter(_ < d)
        d -> collides(d, cands)
      }.toMap
    }
    val baseKept = {
      val p = batchPartners(base)
      base.filter(d => p(d).isEmpty)
    }
    // phase 2: store = base kept; store probe + within-delta rule, with
    // the store-side guard over the store's own buckets
    val storeBk = buckets(baseKept)
    val deltaPartners = batchPartners(delta)
    val expected = delta.map { d =>
      val storeCands = bkeys(sigs(d))
        .flatMap(k => storeBk.getOrElse(k, Nil)).distinct
      val sHits = collides(d, storeCands).size.toLong
      val bHits = deltaPartners(d).size.toLong
      Seq(d, sHits, bHits, sHits == 0L && bHits == 0L)
    }
    assert(ledger == expected,
      s"brute-force mismatch: ${ledger.diff(expected).take(3)} vs ${expected.diff(ledger).take(3)}")
    // both outcomes genuinely exercised, including via the store
    val kept = ledger.count(_(3).asInstanceOf[Boolean])
    val storeDropped = ledger
      .count(r => r(1).asInstanceOf[Long] > 0 && !r(3).asInstanceOf[Boolean])
    assert(kept > 0 && storeDropped > 0)

    // replay on the DISK path: same delta against the updated store —
    // every kept/dropped DECISION reproduces and the store is unchanged
    // (hit counts legitimately move between columns: a dropped doc's
    // kept batch partner is now visible in the store as well)
    val root = ops.Dedup.q182StoreRoot(sf)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val replay = rows(ops.Dedup.incrementalNearDupStep(
      spark, docs.where($"doc_id" % 10 >= 8), s"$root/v2", s"$root/v3"))
    val dec  = ledger.map(r => (r(0), r(3))).toMap
    val dec3 = replay.map(r => (r(0), r(3))).toMap
    assert(dec3 == dec, "replay flipped a kept/dropped decision")
    def storeSet(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getAs[Long]("doc"), r.getSeq[Long](1).toList)).toSet
    assert(storeSet(s"$root/v3") == storeSet(s"$root/v2"),
      "replay changed the store")
  }

  test("q184 incremental IVF ≡ full rebuild; probe scan is partition-pruned") {
    import spark.implicits._
    val got = SparkEntry.queries("q184_ivf_incremental")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got.size == 10)
    // rebuild the WHOLE index under the same frozen centroids — the
    // incremental append must be content-identical, so the probes match
    // row for row
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 10 < 8 && $"vec_id" =!= 0L)
    val cents = ops.Vectors.ivfCentroids(base, 16)
    val root = ops.Vectors.q184IndexRoot(sf)
    ops.Vectors.ivfIndex(emb.filter($"vec_id" =!= 0L), cents, 16)
      .select($"vec_id", $"label", $"cell", $"embedding")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$root/rebuilt")
    val exp = ops.Vectors.probeDiskIndex(spark, s"$root/rebuilt",
      emb, 0L, cents, 16, 4, 10).collect().map(_.toSeq).toSeq
    assert(got == exp, "incremental index diverged from full rebuild")
    // the probe is a statically partition-pruned scan: the literal
    // isin must reach the file index as PartitionFilters, and the
    // incremental index must actually have per-cell directories
    val probe = ops.Vectors.probeDiskIndex(spark, s"$root/index",
      emb, 0L, cents, 16, 4, 10)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe not partition-pruned:\n$plan")
    val dirs = new java.io.File(s"$root/index").listFiles()
      .filter(_.isDirectory).map(_.getName).count(_.startsWith("cell="))
    assert(dirs > 1, "index not laid out by cell")
  }

  test("q183 manifest: every stage genuinely fires") {
    val rows = SparkEntry.queries("q183_manifest_v3")(spark, sf).collect()
    assert(rows.nonEmpty)
    val offered = rows.map(_.getAs[Long]("n_delta_docs")).sum
    val deduped = rows.map(_.getAs[Long]("n_dedup_kept")).sum
    val shipped = rows.map(_.getAs[Long]("n_shipped")).sum
    // a manifest whose gates never drop anything verifies nothing
    // (q142's lesson): dedup must drop some docs, the fertility gate
    // must drop some MORE, and something must still ship
    assert(deduped < offered, "passage dedup dropped nothing")
    assert(shipped < deduped, "fertility gate dropped nothing")
    assert(shipped > 0, "nothing shipped")
  }

  test("q178 fixture carries genuine right-side orphans (and pairs)") {
    import spark.implicits._
    // batch pin on the SAME feed q178 streams: purchases with no click
    // in the preceding hour must exist, or the right-outer null-release
    // path under test never fires (q126's fixture discipline)
    val ev = Tables.events(spark, sf)
    val c = ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"ts".as("cts"))
    val p = ev.where($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pts"), $"event_id")
    val orphans = p.join(c,
      $"cu" === $"pu" && $"pts" >= $"cts" &&
        $"pts" <= $"cts" + expr("interval 1 hour"),
      "left_anti").count()
    val pairs = p.join(c,
      $"cu" === $"pu" && $"pts" >= $"cts" &&
        $"pts" <= $"cts" + expr("interval 1 hour"),
      "left_semi").count()
    assert(orphans > 0, "no right orphans in fixture — q178 proves nothing")
    assert(pairs > 0, "no matched pairs in fixture")
  }

  test("q174 shuffles 8-byte gram hashes — no span string crosses an exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    // AQE wraps stages and hides Exchange nodes from a tree collect;
    // the property under test is the static plan's shuffle payload
    val exchanges =
      SparkTestSession.withConf("spark.sql.adaptive.enabled" -> "false") {
        SparkEntry.queries("q174_source_overlap")(spark, sf)
          .queryExecution.executedPlan.collect {
            case e: ShuffleExchangeExec => e
          }
      }
    assert(exchanges.nonEmpty)
    // the only string allowed across ANY exchange is the tiny `source`
    // label; the 4-token span must have died inside its scan task
    val leakedStrings = exchanges
      .flatMap(_.output)
      .filter(_.dataType == StringType)
      .map(_.name)
      .filterNot(n => n.startsWith("source"))
    assert(leakedStrings.isEmpty,
      s"span-sized strings crossed an exchange: $leakedStrings")
  }

  test("q191 KMV estimate tracks the exact audience intersection") {
    import spark.implicits._
    val rows = SparkEntry.queries("q191_kmv_intersect")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "no pair produced an estimate")
    val du = graft.Tables.events(spark, sf)
      .select($"event_type", $"user_id").distinct()
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    // COVERAGE first (r11 ADVICE): every type pair whose exact
    // intersection is non-trivial must appear in the output at all — a
    // regression that silently drops a high-overlap pair would
    // otherwise pass the per-row accuracy loop below by vacuity
    val emitted = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val expected = for {
      (ta, ua) <- du.toSeq; (tb, ub) <- du.toSeq
      if ta < tb && (ua intersect ub).size >= 10
    } yield (ta, tb)
    assert(expected.nonEmpty, "fixture degenerate: no overlapping pairs")
    expected.foreach { p =>
      assert(emitted.contains(p), s"pair $p missing from q191 output")
    }
    rows.foreach { r =>
      val exact =
        (du(r.getString(0)) intersect du(r.getString(1))).size.toDouble
      val est = r.getDouble(3)
      // k=64 KMV: relative error concentrates around 1/sqrt(k) ≈ 12.5%;
      // gate at 3σ plus slack for the small exact counts at sf0.001
      assert(math.abs(est - exact) <= math.max(0.45 * exact, 15.0),
        s"${r.getString(0)}∩${r.getString(1)}: est $est vs exact $exact")
    }
  }

  test("q192 bootstrap interval brackets the point estimate, lo <= hi") {
    val rows = SparkEntry.queries("q192_bootstrap_ci")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, lo, hi) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(lo <= hi, s"${r.getString(0)}: lo $lo > hi $hi")
      // the order-statistic interval must straddle the full-sample mean
      // (32 replicates over thousands of rows — a miss means the weight
      // draw or the rank selection broke, not bad luck)
      assert(lo <= mean && mean <= hi,
        s"${r.getString(0)}: mean $mean outside [$lo, $hi]")
      // and it should be a genuinely tight interval, not [0, 2·mean]
      assert(hi - lo < 0.5 * mean,
        s"${r.getString(0)}: interval [$lo, $hi] implausibly wide")
    }
  }

  test("q190 MMR picks match an independent greedy replay and diversify") {
    import spark.implicits._
    val got = SparkEntry.queries("q190_mmr_rerank")(spark, sf).collect()
    assert(got.length == 10, s"expected 10 picks, got ${got.length}")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val qv = all.find(_._1 == 0L).get._2
    val cands = all.filterNot(_._1 == 0L)
      .map { case (id, v) => (id, v, cos(v, qv)) }
      .sortBy { case (id, _, rel) => (-rel, id) }
      .take(40)
    // independent greedy replay of λ·rel − (1−λ)·maxSim
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    (1 to 10).foreach { _ =>
      val best = cands.iterator
        .filterNot { case (id, _, _) => picked.exists(_._1 == id) }
        .map { case (id, v, rel) =>
          val red = if (picked.isEmpty) 0.0
            else picked.map(p => cos(v, p._2)).max
          (id, v, 0.7 * rel - 0.3 * red)
        }
        .reduce((a, b) =>
          if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a)
      picked += ((best._1, best._2))
    }
    assert(got.map(_.getLong(1)).toSeq == picked.map(_._1).toSeq,
      "engine MMR sequence diverges from independent greedy replay")
    // diversity: the MMR set's mean pairwise similarity must not exceed
    // plain top-10's (that is the whole point of the re-rank)
    def meanPairSim(vs: Seq[Array[Float]]): Double = {
      val ps = for { i <- vs.indices; j <- vs.indices if i < j }
        yield cos(vs(i), vs(j))
      ps.sum / ps.size
    }
    val mmrSim = meanPairSim(picked.map(_._2).toSeq)
    val topSim = meanPairSim(cands.take(10).map(_._2).toSeq)
    assert(mmrSim <= topSim + 1e-9,
      s"MMR did not diversify: mmr $mmrSim vs top-k $topSim")
  }

  test("q207 KMV sketch state is microbatch-boundary independent") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    // single-batch truth: the registered query over the whole table
    val whole = SparkEntry.queries("q207_stream_kmv")(spark, sf)
      .select($"event_type", $"n_sketch", $"theta")
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // two-chunk replay: split by user parity (an adversarial split —
    // every type sees both chunks), state must merge across batches
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_kmv").toString
    val ev = graft.Tables.events(spark, sf)
      .select($"event_type",
        md5($"user_id".cast("string").cast("binary")).as("h"),
        $"user_id")
    ev.filter($"user_id" % 2 === 0).drop("user_id")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val got = graft.streaming.Streams.withRocksDbStore(spark) {
      implicit val enc =
        org.apache.spark.sql.Encoders.product[
          graft.streaming.Streams.KmvRow]
      val src = spark.readStream
        .schema("event_type STRING, h STRING")
        .parquet(s"$tmp/in")
        .as[(String, String)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.KmvSketchProcessor(64),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val q = src.toDF().writeStream
        .outputMode("update").format("memory").queryName("kmv2")
        .option("checkpointLocation", s"$tmp/ckpt").start()
      q.processAllAvailable()
      ev.filter($"user_id" % 2 =!= 0).drop("user_id")
        .write.mode("append").parquet(s"$tmp/in")
      q.processAllAvailable()
      q.stop()
      spark.table("kmv2")
        .groupBy($"event_type")
        .agg(expr("max_by(n_sketch, ver)").as("n_sketch"),
          expr("max_by(theta, ver)").as("theta"))
        .collect().map(r =>
          r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    }
    assert(got == whole,
      s"two-batch sketch diverged from single-batch: $got vs $whole")
  }

  test("q209 perceptual dedup recovers every planted variant, only those") {
    import spark.implicits._
    val pairs = SparkEntry.queries("q209_image_dhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = graft.Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect()
      .filter(_ % 10 == 0)
      .map(id => (id, id + graft.ops.Multimodal.VariantOff))
      .toSet
    val missed = planted -- pairs
    assert(missed.isEmpty, s"planted variants not recovered: $missed")
    val extra = pairs -- planted
    assert(extra.isEmpty,
      s"non-planted pairs at hamming <= 4 (hash too weak?): $extra")
  }

  test("q200 ANN comparison: recall floors hold and costs order sanely") {
    val rows = SparkEntry.queries("q200_ann_comparison")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet ==
      Set("exact_scan", "ivf", "ivf_pq", "knn_graph"))
    assert(rows("exact_scan")._1 == 1000L, "exact scan must be perfect")
    // approximate strategies carry their own gates elsewhere (q49 ≥ .8,
    // q181 ≥ .7); here the floor just keeps the comparison honest
    Seq("ivf", "ivf_pq", "knn_graph").foreach { k =>
      assert(rows(k)._1 >= 700L, s"$k recall ${rows(k)._1} < 700")
      assert(rows(k)._2 > 0L, s"$k scored nothing")
      assert(rows(k)._2 < rows("exact_scan")._2,
        s"$k scored the whole corpus — no probe saving")
    }
  }

  test("q186 KS statistic equals a brute-force two-sample computation") {
    import spark.implicits._
    val got = SparkEntry.queries("q186_ks_test")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5))
      .toMap
    val samples = graft.Tables.events(spark, sf)
      .selectExpr("event_type", "CAST(ROUND(value * 100) AS BIGINT) c")
      .as[(String, Long)].collect()
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    for {
      (ta, xs) <- samples; (tb, ys) <- samples if ta < tb
    } {
      val grid = (xs ++ ys).distinct.sorted
      val d = grid.map { v =>
        val fa = xs.count(_ <= v).toDouble / xs.length
        val fb = ys.count(_ <= v).toDouble / ys.length
        math.abs(fa - fb)
      }.max
      assert(math.abs(got(ta -> tb) - d) < 1e-4,
        s"$ta/$tb: engine ${got(ta -> tb)} vs brute $d")
    }
  }
}
