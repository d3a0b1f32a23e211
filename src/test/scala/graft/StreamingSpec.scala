package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming behavior driven synchronously: parquet source dirs + memory
  * sink + processAllAvailable (the batch-drives-stream harness from the
  * Spark guide).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("replayed generated stream: windowed counts equal batch counts") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream").toString
    val spec = gen.GenQueries.demoSpec(5000L)
    val ds = gen.StreamGen.exact(spark, spec)
    ds.write.mode("overwrite").parquet(s"$tmp/in")

    val q = Streams
      .windowedTypeCounts(Streams.replayTicks(spark, s"$tmp/in"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("win_counts")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    // append mode holds back windows newer than the watermark; advance it
    // with a far-future tick so every real window is emitted
    ds.limit(1).withColumn("ts", lit(10000000L)).withColumn("seq", lit(-1L))
      .write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_counts")
      .filter($"w_start" < to_timestamp(lit("1970-04-01")))
      .agg(sum($"n")).first().getLong(0)
    assert(streamed == 5000L, s"streamed window counts cover all events")

    // per-(window,type) equality against the batch plan
    val batch = gen.StreamGen.exact(spark, spec)
      .groupBy(
        timestamp_seconds(expr("ts DIV 60") * 60).as("w_start"),
        $"event_type", $"is_pattern")
      .agg(count(lit(1)).as("n"))
    val diff = spark.table("win_counts")
      .filter($"w_start" < to_timestamp(lit("1970-04-01")))
      .except(batch)
    assert(diff.isEmpty, "streamed windows must equal batch windows")
  }

  test("a restarted stream reuses its compiled code under SessionTuning") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("graft_codegen")
    gen.StreamGen.exact(spark, gen.GenQueries.demoSpec(5000L)).write
      .parquet(s"$tmp/in")
    // two runs of one complete-mode replay, each on a fresh checkpoint
    // (so in a fresh session clone): per run, the classes compiled while
    // the stream ran, and its rows
    def twoRuns(label: String,
        confs: Seq[(String, String)]): Seq[(Long, Seq[Row])] = {
      val s: SparkSession = spark.newSession()
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      (1 to 2).map { i =>
        val name = s"codegen_reuse_${label}_$i"
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        Streams.windowedTypeCounts(Streams.replayTicks(s, s"$tmp/in"))
          .writeStream.outputMode("complete").format("memory")
          .queryName(name).trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/ck_$name")
          .start().awaitTermination()
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        try (compiled, s.table(name).collect().toSeq.sortBy(_.toString))
        finally s.catalog.dropTempView(name)
      }
    }
    try {
      // the plugin entry is a context-start setting, which the test
      // session already carries; a running session rejects it
      val tuned = twoRuns("tuned",
        SessionTuning.configs.filterNot(_ == SessionTuning.hadoopConfTrim))
      val Seq((_, rows1), (compiled2, rows2)) = tuned
      assert(compiled2 == 0, "the second stream start compiled again")
      assert(rows1 == rows2 && rows1.map(_.getLong(3)).sum == 5000L)
      // the control: with per-session artifact isolation on, each clone
      // has its own classloader and misses the codegen cache
      val isolated = twoRuns("isolated",
        Seq(SessionTuning.artifactIsolation._1 -> "true"))
      info(s"compiles per run: tuned ${tuned.map(_._1)}, " +
        s"isolated ${isolated.map(_._1)}")
      assert(isolated(1)._1 > 0, "isolated clones shared compiled code")
      assert(isolated.map(_._2) == Seq(rows1, rows1))
    } finally Streams.deleteStaged(tmp)
  }

  test("stateful sessionization across microbatches matches batch q20") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_sess").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", unix_micros($"ts").as("us"))
    // two time-ordered chunks → two microbatches, state must carry over
    val cut = ev.agg(expr("percentile(us, 0.5)")).first().getDouble(0).toLong
    ev.filter($"us" <= cut).write.mode("overwrite")
      .parquet(s"$tmp/in")

    val src = spark.readStream
      .schema("user_id LONG, us LONG")
      .parquet(s"$tmp/in")
      .as[(Long, Long)]
    val q = Streams
      .sessionize(src, gapUs = 1800L * 1000000L)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("sess")
      .option("checkpointLocation", s"$tmp/ckpt")
      .start()
    q.processAllAvailable()
    ev.filter($"us" > cut).write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()

    // latest update per user
    val got = spark.table("sess")
      .groupBy($"user_id")
      .agg(max($"sessions").as("n_sessions"), max($"events").as("n_events"))
    val batch = SparkEntry.queries("q20_sessionize")(
      spark, "/root/testdata/sf0.001")
      .select($"user_id", $"n_sessions", $"n_events")
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "streaming sessionization must equal the batch oracle query")
  }
}

/** Streaming exact dedup must pass each fingerprint exactly once across
  * microbatches (state carried), with watermark-bounded state.
  */
class StreamDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("dropDuplicatesWithinWatermark dedup == batch distinct across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dd").toString
    // duplicate-heavy feed: 300 rows over 100 distinct texts, duplicates
    // spread across the two microbatches (within the lateness horizon)
    val rows = (0 until 300).map { i =>
      (i.toLong, s"doc text number ${i % 100}",
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"))
    }
    val (b1, b2) = rows.splitAt(150)
    b1.toDF("id", "text", "wts").write.mode("overwrite").parquet(s"$tmp/in")

    val src = spark.readStream
      .schema("id LONG, text STRING, wts TIMESTAMP")
      .parquet(s"$tmp/in")
    val q = graft.streaming.Streams.dedupStream(src, lateness = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dd").option("checkpointLocation", s"$tmp/ckpt").start()
    q.processAllAvailable()
    b2.toDF("id", "text", "wts").write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dd")
    assert(got.count() == 100L, "each distinct text passes exactly once")
    assert(got.select("fp").distinct().count() == 100L)
    // cross-batch state: batch 2 (ids 150+) only repeats batch-1
    // fingerprints, so nothing from it survives (within a microbatch the
    // surviving duplicate is arbitrary — only the cross-batch drop is
    // contractual)
    assert(got.agg(max($"id")).first().getLong(0) < 150L)
  }
}

/** Built-in session_window path must agree with the batch sessionization
  * on session counts and sizes.
  */
class SessionWindowSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming session_window == batch q20 per-user session stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_sw").toString
    Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"ts".as("wts"))
      .write.mode("overwrite").parquet(s"$tmp/in")

    val src = spark.readStream.schema("user_id LONG, wts TIMESTAMP")
      .parquet(s"$tmp/in")
    val q = graft.streaming.Streams.sessionWindows(src)
      .writeStream.outputMode("append").format("memory")
      .queryName("sw").option("checkpointLocation", s"$tmp/ckpt").start()
    q.processAllAvailable()
    // close the final sessions: advance the watermark far past the data
    Seq((999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
      .toDF("user_id", "wts").write.mode("append").parquet(s"$tmp/in")
    q.processAllAvailable()
    q.stop()

    val got = spark.table("sw").filter($"user_id" =!= 999L)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum($"session_events").as("n_events"),
        max($"session_events").as("max_session_events"))
    val batch = SparkEntry.queries("q20_sessionize")(
      spark, "/root/testdata/sf0.001")
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "session_window must equal batch sessionization")
  }
}

/** Stream-stream interval join must equal the batch join, including
  * matches whose two sides arrive in different microbatches.
  */
class StreamJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streamed attribution join == batch interval join across batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("luser"), $"ts".as("lts"),
        $"event_id".as("click_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("ruser"), $"ts".as("rts"),
        $"event_id".as("purchase_id"))

    val tmp = java.nio.file.Files.createTempDirectory("graft_ssj").toString
    // split both feeds mid-timeline: pairs spanning the cut only match if
    // the join buffers the earlier side's state across microbatches
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    clicks.filter($"lts" <= cut).write.parquet(s"$tmp/l")
    purchases.filter($"rts" <= cut).write.parquet(s"$tmp/r")

    val q = graft.streaming.Streams
      .intervalJoin(
        spark.readStream
          .schema("luser LONG, lts TIMESTAMP, click_id LONG")
          .parquet(s"$tmp/l"),
        spark.readStream
          .schema("ruser LONG, rts TIMESTAMP, purchase_id LONG")
          .parquet(s"$tmp/r"),
        horizon = "7 days")
      .select($"click_id", $"purchase_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj").option("checkpointLocation", s"$tmp/ckpt").start()
    q.processAllAvailable()
    clicks.filter($"lts" > cut).write.mode("append").parquet(s"$tmp/l")
    purchases.filter($"rts" > cut).write.mode("append").parquet(s"$tmp/r")
    q.processAllAvailable()
    q.stop()

    val batch = clicks.join(purchases,
      expr("luser = ruser AND rts >= lts AND rts <= lts + interval 7 days"))
      .select($"click_id", $"purchase_id")
    val got = spark.table("ssj")
    assert(batch.count() > 50, "fixture should produce many matches")
    assert(got.except(batch).isEmpty && batch.except(got).isEmpty,
      "streamed interval join must equal the batch join")
    // and pairs really do span the cut (the state-carry case is exercised)
    val spanning = batch
      .join(clicks, "click_id").join(purchases, "purchase_id")
      .filter($"lts" <= cut && $"rts" > cut)
    assert(spanning.count() > 0, "no cross-batch pairs — weak fixture")
  }
}

/** Online detection across microbatches must equal offline detection. */
class StreamDetectSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming pattern detection == offline sliding-window count") {
    import spark.implicits._
    val spec = gen.GenQueries.demoSpec(5000L)
    val all = gen.StreamGen.exactIterator(spec).toVector
    // offline ground truth: sliding L-window over types
    val dict = spec.patterns.types.map(_.toVector).toSet
    val expected = all.map(_.event_type).sliding(10)
      .count(w => dict.contains(w.toVector))

    val tmp = java.nio.file.Files.createTempDirectory("graft_det").toString
    def write(evs: Seq[gen.Event], mode: String): Unit =
      evs.map(e => (0L, e.seq, e.event_type))
        .toDF("stream_id", "seq", "event_type")
        .coalesce(1).write.mode(mode).parquet(s"$tmp/in")
    // chunk 1 splits MID-PATTERN so state must carry the window tail
    write(all.take(2503), "overwrite")

    val src = spark.readStream
      .schema("stream_id LONG, seq LONG, event_type INT")
      .parquet(s"$tmp/in").as[(Long, Long, Int)]
    val q = streaming.Streams.detectPatterns(src, spec.patterns.types)
      .writeStream.outputMode("update").format("memory")
      .queryName("det").option("checkpointLocation", s"$tmp/ckpt").start()
    q.processAllAvailable()
    write(all.drop(2503), "append")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("det").agg(
      org.apache.spark.sql.functions.max($"matches")).first().getLong(0)
    assert(streamed == expected,
      s"online $streamed vs offline $expected matches")
    assert(expected >= 100, "fixture should contain many instances")
  }

  test("restart from checkpoint recovers aggregation state exactly") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    // Fault-tolerance semantics: a streaming aggregation killed between
    // microbatches and restarted AS A NEW QUERY from the same checkpoint
    // must resume source offsets AND state-store contents — the recovery
    // contract a production job leans on. The complete-mode overwrite
    // sink is idempotent, so a replayed batch cannot double-count. If
    // state recovery were broken, the restarted query's result would
    // cover only the second half of the data; if offset recovery were
    // broken, it would re-read (and the half-split totals would drift).
    val tmp = Files.createTempDirectory("graft_ckpt").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"event_type",
        (unix_micros($"ts") % 1000000L).as("us"))
    ev.filter($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$tmp/src")
    def run(): Unit = {
      val agg = spark.readStream
        .schema("event_id LONG, event_type STRING, us LONG")
        .parquet(s"$tmp/src")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"us").as("sum_us"))
      val q = agg.writeStream
        .outputMode("complete")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // first query instance sees the even half, then "crashes"
    ev.filter($"event_id" % 2 === 1).coalesce(1)
      .write.mode("append").parquet(s"$tmp/src")
    run() // new instance, same checkpoint: must resume, not restart
    val restored = spark.read.parquet(s"$tmp/out")
    val batch = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"us").as("sum_us"))
    assert(restored.except(batch).isEmpty && batch.except(restored).isEmpty,
      "restarted aggregation must equal the batch aggregate over all data")
  }

  test("upsert merge is idempotent: a replayed batch cannot corrupt the sink") {
    import spark.implicits._
    // foreachBatch delivers at-least-once: after a crash between the
    // sink write and the checkpoint commit, the SAME batch (same id,
    // same contents) is replayed. q107's delete-and-replace merge must
    // therefore be idempotent — merge(merge(s, d), d) == merge(s, d) —
    // or every recovery would duplicate keys. Overlapping keys (2, 3
    // updated), a new key (4), and an untouched key (1) cover the cases.
    val snap  = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("user_id", "last_type", "last_value_cents")
    val delta = Seq((2L, "B", 21L), (3L, "C", 31L), (4L, "d", 40L))
      .toDF("user_id", "last_type", "last_value_cents")
    def m(s: org.apache.spark.sql.DataFrame) =
      Streams.upsertMerge(s, delta, "user_id")
    val once  = m(snap).orderBy($"user_id").collect().map(_.toSeq).toSeq
    val twice = m(m(snap)).orderBy($"user_id").collect().map(_.toSeq).toSeq
    assert(once == twice)
    assert(once == Seq(Seq(1L, "a", 10L), Seq(2L, "B", 21L),
      Seq(3L, "C", 31L), Seq(4L, "d", 40L)))
  }
}
