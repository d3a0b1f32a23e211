package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 gates. Headline items from the r15 verdict: (1) q300/q308
  * report shapes flattened to scalar rows (the driver comparator
  * cannot sort ndarray cells); (2) sppmi's grand total is now a
  * broadcast 1-row aggregate, never a single-partition global window;
  * (3) the embedding store gains the merge ≡ recompute refresh
  * (q312) every other derived store already had; (4) the trained
  * vectors are served through the real IVF layout (q313) with a
  * recall gate against the exact integer ranking.
  */
class Round16Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- verdict item 2: no single-partition window in sppmi -----------

  test("q299 sppmi plans no global window (total is a broadcast 1-row agg)") {
    val p = RegistryPlans(sf, "q299_shifted_ppmi").executedPlan
    // a partition-less window prints `windowspecdefinition(specified-
    // windowframe...` with no leading partition column — that shape
    // funnels the whole |V|² pair matrix through ONE task. The benign
    // `Exchange SinglePartition` under the 1-row HashAggregate (32
    // partial rows) is the q78 device and is allowed.
    assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
      s"sppmi grand total must not be a global window:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast total cross join in:\n$p")
  }

  // ---- verdict item 1: flattened report shapes -----------------------

  test("q300/q308 reports are scalar rows (no array columns)") {
    import org.apache.spark.sql.types.ArrayType
    val q300 = SparkEntry.queries("q300_node_embeddings")(spark, sf)
    val q308 = SparkEntry.queries("q308_embedding_foldin")(spark, sf)
    assert(!q300.schema.exists(_.dataType.isInstanceOf[ArrayType]),
      q300.schema.treeString)
    assert(!q308.schema.exists(_.dataType.isInstanceOf[ArrayType]),
      q308.schema.treeString)
    // flattening must not change content: rows = stored vectors × dim
    val stored = ops.Graph.embeddingStore(spark, sf).count()
    assert(q300.count() == stored * 8)
    println(s"[r16] q300 rows=${stored * 8} q308 rows=${q308.count()}")
  }

  // ---- q312: incremental refresh ≡ full rebuild ----------------------

  private def barbellWalks(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val cliqueA = for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)
    val cliqueB = for (a <- 11L to 16L; b <- (a + 1) to 16L) yield (a, b)
    val und = (cliqueA ++ cliqueB :+ ((6L, 11L))).toDF("a", "b")
    ops.Graph.randomWalks(und, nSeeds = 12, walksPerSeed = 6, len = 8)
  }

  test("q312 fixture: base+delta refresh is bit-identical to a rebuild") {
    import org.apache.spark.sql.functions._
    val walks = barbellWalks().localCheckpoint()
    val base = ops.Graph.skipgramPairs(
      walks.filter(col("walk_id") % 4 =!= 3))
    val delta = walks.filter(col("walk_id") % 4 === 3)
    val refreshed = ops.Graph
      .refreshedEmbeddings(base, delta, dim = 4, shift = 1, vocabCap = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    val rebuilt = ops.Graph
      .refreshedEmbeddings(ops.Graph.skipgramPairs(walks), walks.limit(0),
        dim = 4, shift = 1, vocabCap = 8)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(refreshed.nonEmpty)
    assert(refreshed.toSeq == rebuilt.toSeq)
  }

  test("q312 property: refresh ≡ rebuild for arbitrary walk splits") {
    import org.apache.spark.sql.functions._
    val walks = barbellWalks().localCheckpoint()
    val rebuilt = ops.Graph
      .refreshedEmbeddings(ops.Graph.skipgramPairs(walks), walks.limit(0),
        dim = 4, shift = 1, vocabCap = 8)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // m = 1 makes the base EMPTY (the whole corpus arrives as delta);
    // the other splits carve history/delta at different boundaries —
    // pair counts are per-walk, so every split must land on the same
    // merged counts and the same trained bits
    for ((m, r) <- Seq((1, 0), (2, 0), (2, 1), (5, 3))) {
      val refreshed = ops.Graph
        .refreshedEmbeddings(
          ops.Graph.skipgramPairs(walks.filter(col("walk_id") % m =!= r)),
          walks.filter(col("walk_id") % m === r),
          dim = 4, shift = 1, vocabCap = 8)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(refreshed == rebuilt, s"split mod $m == $r diverged")
    }
  }

  test("q312 randomized graphs: refresh ≡ rebuild under random splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // seeded random graphs hit the shapes the barbell can't: vocab
    // cuts that SHIFT when the delta lands (cap < vocab), deltas that
    // introduce brand-new nodes, sparse/disconnected components
    val rnd = new scala.util.Random(0xC0FFEE)
    var trials = 0
    while (trials < 4) {
      val n = 8 + rnd.nextInt(6)
      val edges = for {
        a <- 1L to n; b <- (a + 1) to n if rnd.nextInt(100) < 40
      } yield (a, b)
      if (edges.size >= 4) {
        trials += 1
        val walks = ops.Graph
          .randomWalks(edges.toDF("a", "b"), nSeeds = n.toInt,
            walksPerSeed = 3, len = 6)
          .localCheckpoint()
        val rebuilt = ops.Graph
          .refreshedEmbeddings(ops.Graph.skipgramPairs(walks),
            walks.limit(0), dim = 3, shift = 1, vocabCap = 6)
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        val m = 2 + rnd.nextInt(3)
        val r = rnd.nextInt(m)
        val refreshed = ops.Graph
          .refreshedEmbeddings(
            ops.Graph.skipgramPairs(
              walks.filter(col("walk_id") % m =!= r)),
            walks.filter(col("walk_id") % m === r),
            dim = 3, shift = 1, vocabCap = 6)
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        assert(refreshed == rebuilt,
          s"trial $trials (n=$n, split mod $m == $r) diverged")
      }
    }
  }

  test("q312 real corpus: registered refresh ≡ full rebuild, rerun-stable") {
    val q = SparkEntry.queries("q312_embedding_refresh")(spark, sf)
      .collect().map(_.toSeq)
    val walks = ops.Graph.walkStore(spark, sf)
    val rebuilt = ops.Graph
      .refreshedEmbeddings(ops.Graph.skipgramPairs(walks),
        walks.limit(0), dim = 8)
      .orderBy(org.apache.spark.sql.functions.col("origin"),
        org.apache.spark.sql.functions.col("node"),
        org.apache.spark.sql.functions.col("dim"))
      .collect().map(_.toSeq)
    assert(q.nonEmpty)
    assert(q.toSeq == rebuilt.toSeq,
      s"refresh diverged from rebuild: ${q.size} vs ${rebuilt.size} rows")
    val rerun = SparkEntry.queries("q312_embedding_refresh")(spark, sf)
      .collect().map(_.toSeq)
    assert(q.toSeq == rerun.toSeq)
  }

  // ---- q313: trained-vector IVF serving ------------------------------

  test("q313 pruned probe meets the recall floor; full probe is exact") {
    import spark.implicits._
    val r = SparkEntry.queries("q313_trained_ann_serving")(spark, sf)
      .select($"probe_node", $"n_exact", $"n_hits", $"recall_pct")
      .as[(Long, Long, Long, Long)].collect()
    assert(r.length == 8, s"expected 8 probes, got ${r.length}")
    val mean = r.map(_._4).sum / r.length
    println(s"[r16] q313 recalls=${r.map(_._4).toSeq} mean=$mean")
    assert(mean >= 50, s"mean recall $mean below floor; rows=${r.toSeq}")
    val full = ops.Graph.trainedAnnRecall(spark, sf, nCells = 4, nProbe = 4)
      .select($"recall_pct").as[Long].collect()
    assert(full.forall(_ == 100L),
      s"nProbe=nCells must degenerate to exact: ${full.toSeq}")
  }

  // ---- q314: cross-modal recall metric ------------------------------

  test("q314 metric: aligned towers score 100, rotated towers score 0") {
    import spark.implicits._
    // one full batch of 8; towers are 1-dim integer vectors
    def fixture(txtOf: Int => Long) = (0 until 8).map { i =>
      (i.toLong, 0L, Seq(100L * i), Seq(txtOf(i)))
    }.toDF("doc_id", "batch_id", "img", "txt")
    val aligned = ops.Multimodal
      .crossModalRecall(fixture(i => 100L * i), Seq(1, 3))
      .select($"direction", $"recall1_pct").as[(String, Long)]
      .collect().toMap
    assert(aligned == Map("img2txt" -> 100L, "txt2img" -> 100L), aligned)
    // rotated: doc i's text tower carries doc (i+1)%8's image value, so
    // the TRUE pair never wins at k=1 in either direction
    val rotated = ops.Multimodal
      .crossModalRecall(fixture(i => 100L * ((i + 1) % 8)), Seq(1, 3))
      .select($"direction", $"recall1_pct").as[(String, Long)]
      .collect().toMap
    assert(rotated == Map("img2txt" -> 0L, "txt2img" -> 0L), rotated)
  }

  test("q314 metric ranks within (anchor, batch) for repeated docs") {
    import spark.implicits._
    // the same doc collated into TWO batches (epoch-repeated shape):
    // each batch must rank independently — doc 0 is aligned in batch 0
    // and rotated in batch 1, so it contributes one rank-1 hit and one
    // miss, never a pooled 16-candidate ranking
    val twoBatches = (
      (0 until 8).map(i => (i.toLong, 0L, Seq(100L * i), Seq(100L * i))) ++
      (0 until 8).map(i => (i.toLong, 1L, Seq(100L * i),
        Seq(100L * ((i + 1) % 8))))
    ).toDF("doc_id", "batch_id", "img", "txt")
    val byDir = ops.Multimodal.crossModalRecall(twoBatches, Seq(1, 3))
      .select($"direction", $"n_queries", $"hits_at_1")
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // 16 anchor instances (8 docs × 2 batches); the aligned batch's 8
    // all hit at k=1, the rotated batch's 8 all miss
    assert(byDir("img2txt") == ((16L, 8L)), byDir.toString)
    assert(byDir("txt2img") == ((16L, 8L)), byDir.toString)
  }

  test("q314 registered run: full batches only, ranks well-defined") {
    import spark.implicits._
    val r = SparkEntry.queries("q314_crossmodal_recall")(spark, sf)
      .collect()
    assert(r.length == 2)
    val byDir = r.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byDir.keySet == Set("img2txt", "txt2img"))
    // both directions query the same anchors
    assert(byDir("img2txt") == byDir("txt2img"))
    println(s"[r16] q314 rows=${r.toSeq}")
  }

  test("q316 probe recovers a planted exact-linear alignment") {
    import spark.implicits._
    // two batches of 8: batch 0 TRAINS, batch 1 is the HELD-OUT eval
    // set. Text features span 3D; image features are an EXACT
    // integer-linear map of them (i1=2·t1+t2, i2=t2+3·t3, i3=t1+t3)
    // in BOTH batches, so least squares on batch 0 has residual 0,
    // Cramer's numerators are detD·W exactly, and every held-out true
    // pair sits at integer distance 0 — recall@1 must be 100
    val feats = (0L until 16L).map { i =>
      val t1 = 3 * i + 1
      val t2 = (i * i) % 17 + 2
      val t3 = (7 * i + 5) % 23 + 1
      (i, i / 8, t1, t2, t3, 2 * t1 + t2, t2 + 3 * t3, t1 + t3)
    }.toDF("doc_id", "batch_id", "t1", "t2", "t3", "i1", "i2", "i3")
    val r = ops.Multimodal.alignedRecall(feats, Seq(1, 3))
      .select($"direction", $"recall1_pct").as[(String, Long)]
      .collect().toMap
    assert(r == Map("img2txt" -> 100L, "txt2img" -> 100L), r.toString)
  }

  test("q316 registered run: chance-level recall on independent modalities") {
    import spark.implicits._
    val trained = SparkEntry.queries("q316_crossmodal_alignment")(spark, sf)
      .select($"direction", $"n_queries", $"recall1_pct", $"recall3_pct")
      .as[(String, Long, Long, Long)].collect()
    assert(trained.length == 2)
    println(s"[r16] q316 aligned=${trained.toSeq}")
    // pixels and captions are generated independently here, so the
    // probe must NOT fabricate alignment: recall@1 stays in the
    // chance band (≤ 3× the 12.5% in-batch chance level)
    assert(trained.forall(_._3 <= 37), trained.toSeq.toString)
  }

  // ---- q315: streaming fold-in ≡ batch q308 --------------------------

  test("q315 fixture: stream fold-in ≡ batch across microbatch splits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val walks = barbellWalks().localCheckpoint()
    val trained = ops.Graph
      .nodeEmbeddings(walks, dim = 4, shift = 1, vocabCap = 8)
      .localCheckpoint()
    val contribs = ops.Graph
      .oovContribs(ops.Graph.skipgramPairs(walks), trained, shift = 1)
      .localCheckpoint()
    val batch = ops.Graph
      .foldInEmbeddings(walks, dim = 4, shift = 1, vocabCap = 8)
      .select($"node", $"n_anchors",
        posexplode($"embedding_micro").as(Seq("dim", "value_micro")))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(batch.nonEmpty, "fixture must have out-of-vocab nodes")
    for (nFiles <- Seq(1, 3)) {
      val stream = graft.streaming.Streams
        .streamFoldInFrom(spark, trained, contribs, dim = 4,
          nFiles = nFiles)
        .select($"node", $"n_anchors", $"dim", $"value_micro")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(stream.toSeq == batch.toSeq,
        s"stream(nFiles=$nFiles) diverged from batch fold-in")
    }
  }

  test("q315 fold-in state survives a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // accumulated per-center sums are state: a query killed between
    // microbatches and restarted from its checkpoint must resume the
    // integer accumulation (and the per-center version counter), or
    // the final vectors would double- or under-count the weights
    val walks = barbellWalks().localCheckpoint()
    val trained = ops.Graph
      .nodeEmbeddings(walks, dim = 4, shift = 1, vocabCap = 8)
      .localCheckpoint()
    val contribs = ops.Graph
      .oovContribs(ops.Graph.skipgramPairs(walks), trained, shift = 1)
      .localCheckpoint()
    val fixed = trained.select($"node".as("context"),
      expr("transform(embedding, x -> CAST(ROUND(x * 1000000) AS LONG))")
        .as("ev")).localCheckpoint()
    graft.streaming.Streams.withRocksDbStore(spark) {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_foldrst").toString
      def writeWave(df: org.apache.spark.sql.DataFrame): Unit =
        df.coalesce(1).write.mode("append").parquet(s"$tmp/src")
      implicit val outEnc =
        org.apache.spark.sql.Encoders.product[
          graft.streaming.Streams.FoldRow]
      def startQuery() = spark.readStream
        .schema("center LONG, context LONG, w LONG")
        .parquet(s"$tmp/src")
        .join(broadcast(fixed), "context")
        .select($"center", $"w",
          expr("transform(ev, x -> x * w)").as("wev"))
        .as[(Long, Long, Seq[Long])]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.FoldInProcessor(4),
          TimeMode.None(), OutputMode.Update())
        .toDF().writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", s"$tmp/chk")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      // wave 1: even contexts; wave 2: the rest — both waves touch the
      // same centers, so correctness REQUIRES the recovered state
      writeWave(contribs.filter($"context" % 2 === 0))
      val q1 = startQuery()
      try q1.processAllAvailable()
      finally q1.stop() // crash point: partial sums in state
      writeWave(contribs.filter($"context" % 2 =!= 0))
      val q2 = startQuery()
      try q2.processAllAvailable()
      finally q2.stop()
      val got = spark.read.parquet(s"$tmp/out")
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"center").orderBy($"ver".desc)))
        .filter($"rnk" === 1)
        .select($"center".as("node"), $"anchors".as("n_anchors"),
          posexplode(expr("transform(num, x -> x DIV den)"))
            .as(Seq("dim", "value_micro")))
        .select($"node", $"n_anchors", $"dim", $"value_micro")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val batch = ops.Graph
        .foldInEmbeddings(walks, dim = 4, shift = 1, vocabCap = 8)
        .select($"node", $"n_anchors",
          posexplode($"embedding_micro").as(Seq("dim", "value_micro")))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(batch.nonEmpty)
      assert(got == batch,
        "post-restart fold-in diverged from the batch fold-in")
    }
  }

  test("q315 real corpus (sf0.01): stream ≡ batch q308 bit-for-bit") {
    val d = "/root/testdata/sf0.01"
    val batch = SparkEntry.queries("q308_embedding_foldin")(spark, d)
      .collect().map(_.toSeq).sortBy(_.toString)
    val stream = SparkEntry.queries("q315_stream_foldin")(spark, d)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(batch.nonEmpty)
    assert(stream.toSeq == batch.toSeq)
  }

  // ---- q319: resumable data order -------------------------------------

  test("q319 resume returns the exact tail of an independent schedule") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().toSeq
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    // independent schedule: same md5 rank, recomputed on the driver
    def sched(epoch: Long): Seq[Long] =
      docs.map(d => (md5hex(s"graft:$epoch:$d"), d)).sorted.map(_._2)
    val full = for {
      e <- 0L to 1L
      (d, i) <- sched(e).zipWithIndex
    } yield (e, i.toLong, i.toLong / 64, d)
    val expected = full
      .filter { case (e, st, _, _) => e > 0 || (e == 0 && st >= 450) }
      .sortBy(r => (r._1, r._2)).take(100)
    val got = SparkEntry.queries("q319_resumable_order")(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // epoch re-salt produces genuinely different permutations
    assert(sched(0) != sched(1))
    // and the resume plan is a top-k over a PARTITION-PRUNED manifest
    // read — pre-checkpoint shards of epoch 0 are never scanned
    val p = RegistryPlans(sf, "q319_resumable_order").executedPlan
    assert(p.contains("TakeOrderedAndProject"), s"no top-k pushdown:\n$p")
    // the shard predicate must appear INSIDE the PartitionFilters
    // bracket — Spark prints `PartitionFilters: []` on every scan, so
    // a bare contains() check would pass with zero pruning
    assert("PartitionFilters: \\[[^\\]]*shard#".r.findFirstIn(p).isDefined,
      s"resume must prune manifest shards at the scan:\n$p")
  }

  // ---- q317: embedding model registry --------------------------------

  test("q317 diff: statuses and L1 are exact on a hand-built pair") {
    import spark.implicits._
    val v1 = Seq((1L, Seq(0.5, 0.25)), (2L, Seq(1.0, 0.0)))
      .toDF("node", "embedding")
    val v2 = Seq((2L, Seq(0.75, 0.5)), (3L, Seq(0.1, 0.2)))
      .toDF("node", "embedding")
    val r = ops.Graph.registryDiff(v1, v2)
      .as[(Long, String, Long)].collect().toSeq
    assert(r == Seq((1L, "dropped", -1L), (2L, "retrained", 750000L),
      (3L, "added", -1L)), r.toString)
  }

  test("q317 registry: version readbacks match direct retrains") {
    import spark.implicits._
    val log = ops.Graph.embeddingRegistry(spark, sf)
    assert(log.versions() == Seq(1L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    assert(rows(log.asOf(spark, 2L).get) ==
      rows(ops.Graph.embeddingStore(spark, sf)))
    assert(rows(log.asOf(spark, 1L).get) ==
      rows(ops.Graph.nodeEmbeddingsFromPairs(
        ops.Graph.basePairStore(spark, sf), dim = 8)))
    // diff statuses follow the vocab set algebra
    val v1n = rows(log.asOf(spark, 1L).get).map(_._1).toSet
    val v2n = rows(log.asOf(spark, 2L).get).map(_._1).toSet
    val diff = SparkEntry.queries("q317_embedding_registry")(spark, sf)
      .as[(Long, String, Long)].collect()
    assert(diff.filter(_._2 == "added").map(_._1).toSet == v2n -- v1n)
    assert(diff.filter(_._2 == "dropped").map(_._1).toSet == v1n -- v2n)
    assert(diff.filter(_._2 == "retrained").map(_._1).toSet ==
      (v1n intersect v2n))
    assert(diff.forall(r => (r._3 >= 0) == (r._2 == "retrained")))
    println(s"[r16] q317 added=${(v2n -- v1n).size} " +
      s"dropped=${(v1n -- v2n).size} retrained=${(v1n & v2n).size}")
  }

  test("q313 probe scan is partition-pruned to the probed cells") {
    import org.apache.spark.sql.functions._
    val (path, _) = ops.Graph.trainedIvfStore(spark, sf)
    val p = spark.read.parquet(path).filter(col("cell").isin(0, 1))
      .queryExecution.executedPlan.toString
    println(s"[r16] q313 probe plan:\n$p")
    // match cell INSIDE the PartitionFilters bracket (every scan
    // prints `PartitionFilters: [...]`, so contains() alone is vacuous)
    assert("PartitionFilters: \\[[^\\]]*cell#".r.findFirstIn(p).isDefined,
      s"cell filter must prune partitions:\n$p")
  }
}
