package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions, locked: the timer sessionizer (q113) must equal
  * batch gaps-and-islands sessionization; its interval state must
  * survive in-watermark DISORDER (backward extension, interval
  * splitting, bridging) and must drop below-watermark stragglers
  * deterministically; transformWithState state with a real `TTLConfig`
  * must evict idle keys' state while a TTL-free control accumulates.
  */
class Round9Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  import SparkTestSession.withRocksDb

  test("q113 timer sessionization equals batch gaps-and-islands") {
    import spark.implicits._
    val got = SparkEntry.queries("q113_closed_sessions")(spark, sf)
      .collect().map(_.toSeq).toSeq
    // independent batch twin (the q113 oracle's idiom, in Spark): break
    // where the per-user sorted gap exceeds 30 min, one row per island
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"us")
    val batch = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("us"))
      .withColumn("new_s",
        when(lag($"us", 1).over(w).isNull ||
          $"us" - lag($"us", 1).over(w) > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_s").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("s_start_us"), max($"us").as("s_last_us"),
        count(lit(1)).as("n"))
      .select($"user_id", $"s_start_us", $"s_last_us", $"n")
      .orderBy($"user_id", $"s_start_us")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == batch)
  }

  test("SessionCloser handles in-watermark disorder and drops late rows") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // Watermark delay 1 h, gap 30 min, times in seconds below.
    //   batch 1: u1@7200, u5@9000, u9@10000  → wm after = 10000-3600 = 6400
    //   batch 2 (all ≥ wm, all out of order):
    //     u1@7000  — backward extension: merges into [7000..7200]
    //     u5@6500  — > gap below u5's 9000 ⇒ a SECOND, earlier interval
    //     u7@3000  — BELOW the watermark ⇒ dropped, u7 never emits
    //   batch 3: sentinel @20000 → final wm 16400 passes every real
    //     expiry (max 10000+1800); sentinel's own session stays open.
    withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_dis").toString
      def writeBatch(rows: Seq[(Long, Long)]): Unit =
        rows.map { case (u, sec) => (u, sec * 1000000L) }
          .toDF("user_id", "us").coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
      writeBatch(Seq((1L, 7200L), (5L, 9000L), (9L, 10000L)))
      val gapUs = 1800L * 1000000L
      implicit val outEnc = org.apache.spark.sql.Encoders.product[
        graft.streaming.Streams.ClosedSession]
      val closed = spark.readStream
        .schema("user_id LONG, us LONG")
        .parquet(s"$tmp/src")
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "1 hour")
        .select($"user_id", $"us")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.SessionCloser(gapUs),
          TimeMode.EventTime(), OutputMode.Update())
      val q = closed.toDF().writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        q.processAllAvailable()
        writeBatch(Seq((1L, 7000L), (5L, 6500L), (7L, 3000L)))
        q.processAllAvailable()
        writeBatch(Seq((-1L, 20000L)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$tmp/out")
        .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000L,
          r.getLong(2) / 1000000L, r.getLong(3))).toSet
      assert(got == Set(
        (1L, 7000L, 7200L, 2L), // extended BACKWARD by the disordered row
        (5L, 6500L, 6500L, 1L), // the disordered row's own earlier session
        (5L, 9000L, 9000L, 1L),
        (9L, 10000L, 10000L, 1L),
        // nothing for u7 (late row dropped) and nothing for the sentinel
      ))
    }
  }

  test("SessionCloser bridges two intervals when a row lands between them") {
    // pure driver-side check of the merge rule (no stream machinery):
    // intervals [0..10] and [100..110] with gap 40 — a row at 55 is
    // within 40 of LAST=10 and of START=100, so it must fuse all three
    // into one interval [0..110] with the summed count
    // intervals [0..10] and [80..90] with gap 40 (disjoint: 80-10 = 70
    // > gap); a row at 45 is within 40 of LAST=10 and of START=80, so
    // it must fuse all three into one interval [0..90] with the summed
    // count — bridging is only possible when the separation is ≤ 2·gap
    import graft.streaming.Streams.OpenSession
    val gap = 40L
    var ivs = List(OpenSession(0L, 10L, 2L), OpenSession(80L, 90L, 3L))
    val us = 45L
    val (near, far) = ivs.partition(o =>
      us >= o.startUs - gap && us <= o.lastUs + gap)
    val merged = near.foldLeft(OpenSession(us, us, 1L)) { (a, o) =>
      OpenSession(math.min(a.startUs, o.startUs),
        math.max(a.lastUs, o.lastUs), a.n + o.n)
    }
    ivs = merged :: far
    assert(ivs == List(OpenSession(0L, 90L, 6L)))
  }

  test("q115 stages one file per bucket dir; lineage equals the logical key") {
    import spark.implicits._
    val rows = SparkEntry.queries("q115_file_lineage")(spark, sf).collect()
    assert(rows.length == 4) // buckets 0..3
    // one physical file per source dir — the n_files column the oracle
    // pins to literal 1 — and path-derived lineage equal to ground truth
    assert(rows.forall(_.getLong(4) == 1L))
    val truth = Tables.documents(spark, sf)
      .groupBy(($"doc_id" % 4).as("b"))
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("c"),
        max($"doc_id").as("m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
      r.getLong(3))).toMap == truth)
  }

  test("q116 one scan both prunes directories AND skips row groups") {
    import spark.implicits._
    // sf0.01 (10k events) so the staged 64KB-block layout holds several
    // row groups per file — same rationale as the q111 A/B test
    val sf01 = "/root/testdata/sf0.01"
    assert(SparkEntry.queries("q116_layout_compose")(spark, sf01).count() > 0)
    val dir = "target/stage_sources/combo_" +
      sf01.replaceAll("[^A-Za-z0-9]", "_") + "/events_by_type_time"
    val ev = Tables.events(spark, sf01)
      .select(unix_micros($"ts").as("us"), $"event_type")
    val clickTotal = ev.filter($"event_type" === "click").count()
    val b = ev.agg(min($"us"), max($"us")).head
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 12
    val q = spark.read.parquet(dir)
      .filter($"event_type" === "click" && $"us" <= cut)
    q.collect()
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    // proof 1 — directory pruning: the scan LISTS only the click dir's
    // files (numFiles counts planned inputs, so non-click dirs never
    // even reach the reader)
    val scannedFiles = scan.metrics("numFiles").value
    val allFiles = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) { w =>
      w.filter(f => f.toString.endsWith(".parquet")).count()
    }
    assert(scannedFiles > 0 && scannedFiles < allFiles,
      s"pruning read $scannedFiles of $allFiles files")
    // proof 2 — row-group skipping: within the surviving dir, the
    // pushed time range reads a fraction of the click rows
    val scanRows = scan.metrics("numOutputRows").value
    assert(scanRows < clickTotal / 3,
      s"clustered scan read $scanRows of $clickTotal click rows — " +
        "stats skipped nothing")
  }

  test("SessionCloser intervals AND timers survive a checkpoint restart") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // Timers are state: a query killed between microbatches and
    // restarted from its checkpoint must recover the open intervals
    // and the armed timers, or idle sessions opened before the crash
    // would never close. Batch 1 opens two sessions (gap 60 s), the
    // query stops; the restarted query's only input is a far-future
    // row on a third key, so BOTH recovered sessions can only be
    // closed by recovered/re-armed timer machinery.
    withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_rst").toString
      def writeBatch(rows: Seq[(Long, Long)]): Unit =
        rows.map { case (u, sec) => (u, sec * 1000000L) }
          .toDF("user_id", "us").coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
      val gapUs = 60L * 1000000L
      implicit val outEnc = org.apache.spark.sql.Encoders.product[
        graft.streaming.Streams.ClosedSession]
      def startQuery() = spark.readStream
        .schema("user_id LONG, us LONG")
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
        .option("checkpointLocation", s"$tmp/chk")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      writeBatch(Seq((1L, 0L), (2L, 5000L)))
      val q1 = startQuery()
      try q1.processAllAvailable()
      finally q1.stop() // crash point: both sessions open, timers armed
      writeBatch(Seq((3L, 20000L)))
      val q2 = startQuery()
      try q2.processAllAvailable()
      finally q2.stop()
      val got = spark.read.parquet(s"$tmp/out")
        .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000L,
          r.getLong(2) / 1000000L, r.getLong(3))).toSet
      assert(got == Set(
        (1L, 0L, 0L, 1L),       // closed post-restart by recovered timer
        (2L, 5000L, 5000L, 1L), // closed post-restart by recovered timer
        // u3 stays open (its expiry is beyond the final watermark)
      ))
    }
  }

  test("q117 outer streaming join equals the batch left join") {
    import spark.implicits._
    val got = SparkEntry.queries("q117_stream_outer")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"us".as("cus"), $"event_id".as("levent"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"us".as("pus"), $"event_id".as("revent"))
    val batch = c.join(p,
        $"cu" === $"pu" && $"pus" >= $"cus" &&
          $"pus" <= $"cus" + 3600000000L, "left_outer")
      .groupBy($"cu".as("user_id"))
      .agg(count($"revent").as("n_pairs"),
        sum(when($"revent".isNull, 1L).otherwise(0L)).as("n_orphans"),
        countDistinct($"revent").as("n_purchases"))
      .orderBy($"user_id")
      .collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == batch)
    // the outer semantic must actually fire: some user has an orphan
    assert(got.exists(r => r(2).asInstanceOf[Long] > 0L),
      "fixture has no orphan clicks — the outer path is untested")
  }

  test("MapState accumulates per-type counts across microbatches") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Encoders, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_map").toString
      def writeBatch(rows: Seq[(Long, String)]): Unit =
        rows.toDF("user_id", "event_type").coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
      writeBatch(Seq((1L, "a"), (1L, "b"), (2L, "a")))
      implicit val outEnc =
        Encoders.product[graft.streaming.Streams.TypeCount]
      val counts = spark.readStream
        .schema("user_id LONG, event_type STRING")
        .parquet(s"$tmp/src")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.TypeCountProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = counts.toDF().writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        q.processAllAvailable()
        writeBatch(Seq((1L, "a"), (1L, "c"))) // "a" must resume from 1
        q.processAllAvailable()
      } finally q.stop()
      val finalCounts = spark.read.parquet(s"$tmp/out")
        .groupBy($"user_id", $"event_type").agg(max($"n").as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(finalCounts == Map(
        (1L, "a") -> 2L, // 1 in batch 1 + 1 in batch 2: map entry carried
        (1L, "b") -> 1L,
        (1L, "c") -> 1L,
        (2L, "a") -> 1L,
      ))
      // update-mode emission discipline: batch 2 touched only a and c,
      // so (1,b) must have been emitted exactly once across the run
      val bEmissions = spark.read.parquet(s"$tmp/out")
        .filter($"user_id" === 1L && $"event_type" === "b").count()
      assert(bEmissions == 1L)
    }
  }

  test("chunked pattern detection equals the global-window formulation") {
    import spark.implicits._
    // the replaced plan, kept as the independent cross-check (same
    // discipline as q104's collect_list twin): one global ordered
    // window — correct, but serialized through a single task
    val spec = graft.gen.GenQueries.demoSpec(40000L)
    val L = spec.patterns.length
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("seq").rowsBetween(0, L - 1)
    val dict = spec.patterns.types.map(ts => array(ts.map(lit(_)): _*))
    val windows = graft.gen.StreamGen.exact(spark, spec)
      .withColumn("win_types", collect_list($"event_type").over(w))
      .withColumn("win_pattern", min($"is_pattern".cast("int")).over(w))
      .filter(size($"win_types") === L)
    val isMatch = dict.map($"win_types" === _).reduce(_ || _)
    val viaGlobal = windows
      .withColumn("matched", isMatch)
      .agg(
        sum(when($"matched", 1L).otherwise(0L)),
        sum(when($"matched" && $"win_pattern" === 1, 1L).otherwise(0L)),
        sum(when($"matched" && $"win_pattern" =!= 1, 1L).otherwise(0L)))
      .head.toSeq
    val viaChunks = SparkEntry.queries("gen_pattern_detect")(spark, sf)
      .head.toSeq
    assert(viaChunks == viaGlobal)
    // the detection itself must stay meaningful: every labeled instance
    // rediscovered (the generator plants 1200 with zero-gap starts)
    assert(viaChunks(1).asInstanceOf[Long] > 0L)
  }

  test("winnowing fingerprints: edit-local, and long matches always caught") {
    import spark.implicits._
    // the two properties that make winnowing the right near-dup
    // fingerprint: (1) a one-token edit changes only the few windows
    // that see it; (2) any shared run of >= window+gram-1 = 6 tokens
    // GUARANTEES a shared selected fingerprint (random sampling lacks
    // this)
    val base   = (0 until 100).map(i => s"w$i").mkString(" ")
    val edited = (0 until 100).map(i => if (i == 50) "XX" else s"w$i")
      .mkString(" ")
    // disjoint vocabulary except tokens 20..39 of base, embedded mid-doc
    val overlap = ((0 until 30).map(i => s"a$i") ++
      (20 until 40).map(i => s"w$i") ++
      (0 until 30).map(i => s"b$i")).mkString(" ")
    // the SHIPPED expressions, not copies — an edit to q119's shingle
    // or window parameters re-runs these properties against it
    val fps = Seq((1L, base), (2L, edited), (3L, overlap))
      .toDF("doc_id", "text")
      .withColumn("toks", split($"text", " "))
      .withColumn("gh", expr(graft.ops.Text.winnowGramsExpr))
      .withColumn("fps", array_distinct(expr(graft.ops.Text.winnowWindowsExpr)))
      .select($"doc_id", $"fps")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).toSet).toMap
    val (f1, f2, f3) = (fps(1L), fps(2L), fps(3L))
    // (1) edit-local: high overlap, but not identical
    val jaccard = (f1 & f2).size.toDouble / (f1 | f2).size
    assert(jaccard > 0.6 && f1 != f2, s"jaccard $jaccard")
    // (2) guaranteed detection of the 20-token shared run
    assert((f1 & f3).nonEmpty, "shared long run selected no common fp")
    // sanity: mostly-disjoint docs share little
    assert((f1 & f3).size * 3 < f1.size)
  }

  test("transformWithState TTL evicts idle state; TTL-free control keeps it") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Encoders, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig}
    // Per-key running count with ValueState under a processing-time TTL:
    // after a pause longer than the TTL, the key's state must be GONE
    // (count restarts at 1); with TTLConfig.NONE the identical drive
    // accumulates (count reaches 2). This is the bounded-state story for
    // keyed feeds where the key space grows forever (device ids, session
    // tokens): state for keys gone quiet is evicted by the store itself,
    // no timers or manual cleanup.
    // TTL requires TimeMode.ProcessingTime — under which the query
    // triggers continuously (empty batches included) and
    // processAllAvailable never settles, so the drive polls the sink
    // for the expected emission count instead
    def drive(ttl: TTLConfig, pauseMs: Long): Seq[(Long, Long)] = withRocksDb {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ttl").toString
      def writeBatch(): Unit =
        Seq((7L, 1L)).toDF("user_id", "v").coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
      def outRows(): Seq[(Long, Long)] =
        scala.util.Try(spark.read.parquet(s"$tmp/out")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
          .getOrElse(Seq.empty)
      def awaitRows(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (outRows().size < n && System.nanoTime() < deadline)
          Thread.sleep(100L)
        assert(outRows().size >= n, s"sink never reached $n rows")
      }
      writeBatch()
      implicit val outEnc = Encoders.tuple(Encoders.scalaLong,
        Encoders.scalaLong)
      val counts = spark.readStream
        .schema("user_id LONG, v LONG")
        .parquet(s"$tmp/src")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.TtlCounter(ttl),
          TimeMode.ProcessingTime(), OutputMode.Update())
      val q = counts.toDF("user_id", "n").writeStream
        .outputMode(OutputMode.Update)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("250 milliseconds"))
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          if (!b.isEmpty)
            b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        awaitRows(1)
        Thread.sleep(pauseMs)
        writeBatch()
        awaitRows(2)
      } finally q.stop()
      outRows().sortBy(_._2)
    }
    // TTL far below the pause: the second batch must see NO prior state
    val evicted = drive(TTLConfig(java.time.Duration.ofMillis(100)), 2000L)
    assert(evicted == Seq((7L, 1L), (7L, 1L)),
      s"TTL state survived the pause: $evicted")
    // no TTL, same drive: the second batch must see the prior count
    val kept = drive(TTLConfig.NONE, 2000L)
    assert(kept == Seq((7L, 1L), (7L, 2L)),
      s"control lost state without a TTL: $kept")
  }
}
