package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 additions, locked: the q104 EWMA fold must be the
  * constant-memory secondary-sort shape (repartition + local sort +
  * mapPartitions streaming fold) AND agree bit-exactly with the
  * collect_list+HOF formulation it replaced; q105 must prune partition
  * directories and q111 must skip row groups (A/B against an
  * interleaved control); q106's audit counters must come from the
  * single scan the filtered action already makes; q107's streaming
  * upsert must equal the batch compaction it mirrors; q108 must
  * saturate exactly the argmax elements; q109 must keep its map-side
  * WindowGroupLimit; q110 must surface an injected hot key; the
  * transformWithState port (q112) must equal the legacy API row for
  * row, its timer-based sessionizer must close sessions exactly once
  * on watermark expiry, and streaming must be state-backend-portable
  * (RocksDB).
  */
class Round8Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q104 streaming fold equals the collect_list+HOF formulation") {
    import spark.implicits._
    val viaFold = SparkEntry.queries("q104_ewma_decay")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // the replaced formulation: materialize each user's ordered history
    // as an array, fold it with a HOF — correct, but O(history) memory
    // per group; kept here as the independent cross-check
    val viaList = Tables.events(spark, sf)
      .select($"user_id",
        struct(unix_micros($"ts").as("us"), $"event_id",
          expr("CAST(ROUND(value * 100) AS LONG)").as("cents")).as("e"))
      .groupBy($"user_id")
      .agg(sort_array(collect_list($"e")).as("es"))
      .select($"user_id",
        size($"es").cast("long").as("n_events"),
        expr("""aggregate(
            slice(transform(es, x -> x.cents), 2, size(es) - 1),
            element_at(transform(es, x -> x.cents), 1),
            (acc, c) -> (c + 3 * acc) div 4)""").as("ewma_cents"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(viaFold.nonEmpty && viaFold == viaList)
  }

  test("q104 survives a multi-partition shuffled source (secondary sort)") {
    import spark.implicits._
    // users deliberately scattered across many input partitions in a
    // scrambled order — the repartition+sortWithinPartitions pair must
    // reassemble each user's history in (us, event_id) order before the
    // fold; 257 rows per user ensures multi-step folds, 8 users across
    // 16 partitions ensures co-residence and partition boundaries
    val rows = for {
      u <- 0L until 8L; i <- 0L until 257L
    } yield (u, (i * 7919L) % 257L, u * 1000L + i, (i * 13L) % 997L)
    val scrambled = spark
      .createDataset(scala.util.Random.shuffle(rows.toVector))
      .toDF("user_id", "us", "event_id", "cents")
      .repartition(16)
    scrambled.cache().count()
    // expected: driver-side sequential fold over the (us, event_id) order
    val expected = rows.groupBy(_._1).map { case (u, es) =>
      val cs = es.sortBy(e => (e._2, e._3)).map(_._4)
      u -> (cs.length.toLong, cs.tail.foldLeft(cs.head) {
        (acc, c) => (c + 3L * acc) / 4L
      })
    }
    val got = scrambled
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("us"), col("event_id"))
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[(Long, Long, Long)] {
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Long, Long) = {
            val user = buf.head._1
            var acc  = buf.next()._4
            var n    = 1L
            while (buf.hasNext && buf.head._1 == user) {
              acc = (buf.next()._4 + 3L * acc) / 4L
              n += 1L
            }
            (user, n, acc)
          }
        }
      }
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    scrambled.unpersist()
    assert(got == expected)
  }

  test("q105 pruned scan reads only the surviving partition directories") {
    import spark.implicits._
    val df = SparkEntry.queries("q105_partition_prune")(spark, sf)
    assert(df.count() == 2) // click + purchase groups survive
    // physical proof on the staged layout the query just wrote: the
    // filtered read scans strictly fewer files than the directory holds
    val dir = "target/stage_sources/part_" +
      sf.replaceAll("[^A-Za-z0-9]", "_") + "/events_by_type"
    val back = spark.read.parquet(dir)
      .filter($"event_type".isin("click", "purchase"))
    back.collect()
    val scan = back.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    val scanned = scan.metrics("numFiles").value
    val allFiles = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) { w =>
      w.filter(f => f.toString.endsWith(".parquet")).count()
    }
    assert(scanned > 0 && scanned < allFiles,
      s"pruning read $scanned of $allFiles files")
  }

  test("q106 observed metrics equal a dedicated aggregation pass") {
    import spark.implicits._
    val row = SparkEntry.queries("q106_observe_qc")(spark, sf).head
    val ev = Tables.events(spark, sf)
    val direct = ev.agg(
      count(lit(1)), sum(expr("CAST(ROUND(value * 100) AS LONG)")),
      min(unix_micros($"ts")), max(unix_micros($"ts")),
      count(when($"event_type" === "click", lit(1)))).head
    assert(row.toSeq == direct.toSeq)
  }

  test("q107 streaming upsert equals batch q100 compaction") {
    val streamed = SparkEntry.queries("q107_stream_upsert")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val batch = SparkEntry.queries("q100_latest_compact")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("q108 saturates exactly the argmax elements and combines map-side") {
    val df = SparkEntry.queries("q108_int8_quant")(spark, sf)
    val rows = df.collect()
    // symmetric max-abs scaling maps each vector's argmax to ±127, so
    // every vector saturates at least one element — a broken scale
    // (e.g. 128, or un-abs'd max) breaks this immediately
    assert(rows.nonEmpty && rows.forall(r => r.getLong(3) >= r.getLong(1)))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"q108 label rollup lost its map-side combine:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"q108 HOFs fell out of codegen:\n$p")
  }

  test("q109 keeps a bounded per-group top-k heap BEFORE the shuffle") {
    import spark.implicits._
    val df = SparkEntry.queries("q109_fixed_k_sample")(spark, sf)
    // exactly k rows per group, ranks 1..k dense
    val perLang = df.groupBy($"lang")
      .agg(count(lit(1)).as("n"), max($"rk").as("mx"), min($"rk").as("mn"))
      .collect()
    assert(perLang.nonEmpty &&
      perLang.forall(r => r.getLong(1) == 10 && r.getLong(2) == 10 &&
        r.getLong(3) == 1))
    // the row_number <= k filter must rewrite into a partial+final
    // WindowGroupLimit pair; plan strings print root-first, so the
    // PARTIAL (map-side) limit — the one that keeps each task to k rows
    // per group BEFORE the lang shuffle — must appear after the last
    // Exchange in the rendered tree
    val p = df.queryExecution.executedPlan.toString
    val firstLimit = p.indexOf("WindowGroupLimit")
    assert(firstLimit >= 0 && p.indexOf("WindowGroupLimit", firstLimit + 1) > 0,
      s"q109 lost its partial+final WindowGroupLimit pair:\n$p")
    assert(p.lastIndexOf("WindowGroupLimit") > p.lastIndexOf("Exchange"),
      s"q109's partial WindowGroupLimit is not upstream of the shuffle:\n$p")
  }

  test("q111 clustered layout skips row groups; unsorted layout cannot") {
    import spark.implicits._
    // sf0.01, not the suite's default sf0.001: with only 1000 rows the
    // staged file holds one tiny row group per range partition and the
    // measurement reduces to file-level granularity; 10k rows give each
    // file several 64KB row groups, which is the structure the query
    // demonstrates
    val sf01 = "/root/testdata/sf0.01"
    // run the registered query once so its staged sorted layout exists
    assert(SparkEntry.queries("q111_clustered_scan")(spark, sf01).count() > 0)
    val dir = "target/stage_sources/sorted_" +
      sf01.replaceAll("[^A-Za-z0-9]", "_") + "/events_by_ts"
    val ev = Tables.events(spark, sf01)
      .select($"event_id", unix_micros($"ts").as("us"))
    val total = ev.count()
    val b = ev.agg(min($"us"), max($"us")).head
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 12
    // A/B control: the SAME rows and block size, written UNsorted —
    // every 64KB row group then spans the whole time range, so min/max
    // statistics can skip nothing
    val unsortedDir = java.nio.file.Files
      .createTempDirectory("graft_unsorted").toString + "/events"
    Tables.events(spark, sf01)
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"),
        expr("CAST(ROUND(value * 100) AS LONG)").as("cents"),
        $"event_type")
      .repartition(4) // round-robin: time-interleaved, the anti-layout
      .write.option("parquet.block.size", 64 * 1024).parquet(unsortedDir)
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).filter($"us" <= cut)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
      }.getOrElse(fail(s"no FileSourceScanExec for $path"))
      scan.metrics("numOutputRows").value
    }
    val sortedRows   = scanRows(dir)
    val unsortedRows = scanRows(unsortedDir)
    // the pushed range predicate drops ~11/12 of row groups on the
    // clustered file and none on the interleaved one
    assert(sortedRows < total / 5,
      s"clustered scan read $sortedRows of $total rows - stats skipped nothing")
    assert(unsortedRows > total / 2,
      s"control broke: unsorted scan read only $unsortedRows of $total")
    assert(sortedRows * 3 < unsortedRows,
      s"clustering won nothing: $sortedRows vs $unsortedRows")
  }

  test("q110 diagnoses an injected hot key in the top magnitude bucket") {
    import spark.implicits._
    // synthetic power-law check of the diagnostic itself: 1 key with
    // 100k rows, 1000 keys with ~10 — the hot key must surface as a
    // lone key in the top magnitude bucket covering >90% of rows
    val skewed = spark.range(100000).select(lit(7L).as("user_id"))
      .unionAll(spark.range(10000)
        .select((col("id") % 1000 + 100L).as("user_id")))
    val hist = skewed.groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy(length($"n".cast("string")).cast("long").as("magnitude"))
      .agg(count(lit(1)).as("n_keys"), sum($"n").as("rows_covered"))
      .orderBy($"magnitude".desc)
      .head
    assert(hist.getLong(0) == 6 && hist.getLong(1) == 1 &&
      hist.getLong(2) == 100000L)
  }

  test("streaming aggregation is backend-portable: RocksDB state store") {
    // The default HDFSBackedStateStore keeps state on the executor HEAP
    // — fine at bounded cardinalities, fatal for 100 TB keyed state. The
    // production backend is RocksDB (off-heap, spill-to-disk, bounded
    // GC); this locks that our streaming queries produce IDENTICAL
    // results under it, i.e. nothing in the harnesses or aggregates
    // depends on the default provider's semantics.
    SparkTestSession.withRocksDb {
      val streamed = SparkEntry.queries("q73_stream_hourly")(spark, sf)
        .collect().map(_.toSeq).toSeq
      val batch = SparkEntry.queries("q22_hourly_windows")(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(streamed.nonEmpty && streamed == batch)
    }
  }

  test("q112 transformWithState equals the legacy flatMapGroupsWithState") {
    // same fold, two stateful APIs a decade apart: the StatefulProcessor
    // port must be row-identical to the flatMapGroupsWithState original
    // (both are independently oracle-gated against batch q20)
    val tws = SparkEntry.queries("q112_tws_sessions")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val legacy = SparkEntry.queries("q85_stream_sessions")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(tws.nonEmpty && tws == legacy)
  }

  test("transformWithState event-time timers close idle sessions") {
    import spark.implicits._
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // The unbounded-feed session shape: a session closes EXACTLY ONCE,
    // when the watermark passes its inactivity gap (registered timer),
    // with state cleared — no run-to-completion flush. Three hand-built
    // microbatches: user 1's first session closes batch-side when its
    // own later event arrives; user 2 goes idle and ONLY a timer can
    // close it; user 1's second session closes by timer once the final
    // watermark (20000s, applied by the no-data batch that
    // processAllAvailable runs after the last data batch) passes its
    // 10060s expiry; user 3's expiry is BEYOND the final watermark, so
    // it stays open and must NOT be emitted.
    val tmp = java.nio.file.Files.createTempDirectory("graft_timer").toString
    SparkTestSession.withRocksDb {
      def writeBatch(rows: Seq[(Long, Long)]): Unit =
        rows.toDF("user_id", "us").coalesce(1)
          .write.mode("append").parquet(s"$tmp/src")
      writeBatch(Seq((1L, 0L), (1L, 10000000L), (2L, 5000000L)))
      val gapUs = 60L * 1000000L
      implicit val outEnc =
        org.apache.spark.sql.Encoders.product[
          graft.streaming.Streams.ClosedSession]
      val closed = spark.readStream
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
      val q = closed.toDF().writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.coalesce(1).write.mode("append").parquet(s"$tmp/out")
        }
        .start()
      try {
        q.processAllAvailable() // batch 1: everything open, nothing emitted
        writeBatch(Seq((1L, 10000000000L)))
        q.processAllAvailable() // batch 2: user 1 closes batch-side
        writeBatch(Seq((3L, 20000000000L)))
        q.processAllAvailable() // batch 3: user 2's timer fires
      } finally q.stop()
      val got = spark.read.parquet(s"$tmp/out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == Set(
        (1L, 0L, 10000000L, 2L),      // closed by its own next event
        (2L, 5000000L, 5000000L, 1L), // closed by the event-time TIMER
        (1L, 10000000000L, 10000000000L, 1L), // timer, final watermark
      ))
    }
  }

  test("q104 plans as exchange + local sort + mapPartitions, no collect_list") {
    val p = RegistryPlans(sf, "q104_ewma_decay").executedPlan
    assert(!p.contains("collect_list"),
      s"q104 regressed to array materialization:\n$p")
    assert(p.contains("MapPartitions"), s"q104 lost its streaming fold:\n$p")
    // the sort feeding the fold must be partition-LOCAL (rendered as
    // `Sort [...], false, 0` — global=false); a global sort would add a
    // range exchange + skew sensitivity. String-matched because the
    // adaptive plan hides its inner operators from collect() until
    // finalized.
    assert(
      "Sort \\[user_id[^\\]]*us[^\\]]*event_id[^\\]]*\\], false".r
        .findFirstIn(p).isDefined,
      s"q104 lost its partition-local secondary sort:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"q104 lost its user_id co-location exchange:\n$p")
  }
}
