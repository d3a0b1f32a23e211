package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Structured Streaming surface: the reference's "streamable" goal
  * (`eventstream.py:9`, iterator sink `:429-432`) re-expressed as
  * event-time streaming — replay a generated tick stream as a wall-clock
  * stream, window it with watermarks, and run stateful per-key
  * sessionization. This is the workload the reference generates data FOR
  * ("sequence-learning systems that operate in real time", `README.md:6`).
  */
object Streams {

  /** The driver's `events.parquet` has shipped with TWO physical `ts`
    * types across testdata generations: parquet TIMESTAMP(NANOS)
    * (readable only as LONG under the `nanosAsLong` flag) and plain µs
    * TIMESTAMP_NTZ (the current layout). Streaming file sources need an
    * explicit schema, so every harness detects the layout from the file
    * footer ONCE (one cheap metadata read) and goes through the helpers
    * below — the engine absorbs this source-schema drift without a code
    * change, the way a long-lived 100 TB pipeline must.
    */
  private def eventsTsIsLong(spark: SparkSession, dir: String): Boolean = {
    graft.Tables.ensureNanosAsLong(spark)
    graft.Tables.load(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
  }

  private def eventsSchema(tsLong: Boolean) =
    org.apache.spark.sql.types.StructType.fromDDL(
      (if (tsLong) "event_id LONG, ts LONG, "
       else "event_id LONG, ts TIMESTAMP_NTZ, ") +
        "user_id LONG, event_type STRING, value DOUBLE, props STRING")

  /** Event-time column (µs TIMESTAMP) from the raw `ts`, either layout;
    * NTZ→TIMESTAMP cast is value-identical under the UTC session. */
  private def wtsExpr(tsLong: Boolean): org.apache.spark.sql.Column =
    if (tsLong) timestamp_micros(expr("ts DIV 1000"))
    else col("ts").cast("timestamp")

  /** Raw `ts` as epoch MICROSECONDS (long), either layout. */
  private def usExpr(tsLong: Boolean): org.apache.spark.sql.Column =
    if (tsLong) expr("ts DIV 1000")
    else unix_micros(col("ts").cast("timestamp"))

  /** Rewrite a sentinel row frame's LONG-nanos `ts` into the staged
    * source's physical type so ONE declared schema reads real files and
    * sentinel files alike. */
  private def sentinelTs(df: DataFrame, tsLong: Boolean): DataFrame =
    if (tsLong) df
    else df.withColumn("ts",
      expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"))

  /** Replay a generated stream (parquet of gen.Event) as a streaming
    * DataFrame with a wall-clock event-time column: tick → epoch + tick
    * seconds (SURVEY.md §7.5.4 — ticks stay the ground truth; the
    * projection is explicit and lossless).
    */
  def replayTicks(
      spark: SparkSession,
      parquetDir: String,
      epochSeconds: Long = 0L,
  ): DataFrame =
    spark.readStream
      .schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "seq LONG, ts LONG, event_type INT, is_pattern BOOLEAN"
        )
      )
      .parquet(parquetDir)
      .withColumn("wts", timestamp_seconds(col("ts") + epochSeconds))

  /** Tumbling event-time window counts with a watermark for late data.
    * Append mode emits each window once, when the watermark passes it —
    * the scalable shape (state is bounded by watermark horizon).
    */
  def windowedTypeCounts(
      replayed: DataFrame,
      windowWidth: String = "60 seconds",
      lateness: String = "120 seconds",
  ): DataFrame =
    replayed
      .withWatermark("wts", lateness)
      .groupBy(window(col("wts"), windowWidth), col("event_type"),
        col("is_pattern"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("w_start"),
        col("event_type"),
        col("is_pattern"),
        col("n"),
      )

  /** What [[runStream]] runs: the streaming `query` in output `mode`;
    * `result`, the read side, built once the query has stopped; the
    * `sink` each microbatch goes to (default: one `coalesce(1)` file per
    * batch under [[outDir]] — overwritten in Complete mode, where each
    * batch carries the full result, appended otherwise, the caller
    * reducing the deltas — a production job would upsert into a keyed
    * sink instead, q107's [[upsertMerge]]); and the `steps` between runs (sentinel
    * appends, pointer swaps, phase stages), after each of which the
    * query runs to completion again.
    */
  private[graft] final case class StreamRun(
      query: DataFrame,
      mode: OutputMode,
      result: () => DataFrame,
      sink: Option[(Dataset[Row], Long) => Unit] = None,
      steps: Seq[() => Unit] = Nil)

  /** The default sink dir of the run rooted at `root`. */
  private def outDir(root: Path): String = root.resolve("out").toString

  /** THE streaming harness: stage a source, run the query to completion,
    * read its sink. `plan` gets a fresh root `target/graft_stream/<tag>_
    * <uuid>`, stages its sources under it (by convention `root/src`) and
    * returns the [[StreamRun]]; the query checkpoints to `root/ck`.
    * Results land on (distributed) storage, never in a driver-resident
    * memory sink, and nothing is registered in the session catalog — so
    * one query's harness can't leak state into the next one's timing
    * (the round-4 bench showed up to 3.8× cross-query interference from
    * accumulated memory-sink tables). Whatever happens, the query is
    * stopped, the session confs are restored, and every child of the
    * root the result does not read (staged sources, the checkpoint,
    * dead sinks) is deleted — the root itself too when the result reads
    * nothing under it. A result must therefore read its files directly
    * or materialize them (`localCheckpoint`) before it is returned.
    *
    * `statePartitions` pins `spark.sql.shuffle.partitions` for the run
    * (`None`: session default). Stateful streaming pins the state-store
    * partition count from this conf at the query's FIRST batch, and
    * every microbatch then commits one state file (plus logs) per
    * partition per store — at the bench's bounded result cardinalities
    * (hours × types, one row per user) the run cost is DOMINATED by that
    * per-partition commit fan-out, not by compute: round 6 measured q94
    * at 6.8 s clean under 32-way state, round 7 got 3.5 s under 4-way,
    * and round 8 measured 4-way → 1-way saving a further ~0.9 s on q96
    * and ~1.1 s on the 4-batch upsert q107. On a real cluster this knob
    * is sized to state VOLUME, not left at the session default; the
    * harness owns its checkpoint, so the pinned value never conflicts
    * across runs. `rocksDb` runs staging and query under
    * [[withRocksDbStore]] (transformWithState requires it).
    */
  private[graft] def runStream(
      spark: SparkSession,
      tag: String,
      statePartitions: Option[Int] = Some(1),
      rocksDb: Boolean = false,
  )(plan: Path => StreamRun): DataFrame = {
    val root = Paths.get("target", "graft_stream",
      tag + "_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    def stateStore[T](body: => T): T =
      if (rocksDb) withRocksDbStore(spark)(body) else body
    def pinned[T](body: => T): T =
      statePartitions.fold(body)(n => withShufflePartitions(spark, n)(body))
    var result: Option[DataFrame] = None
    try {
      val run = stateStore {
        val r = plan(root)
        val saveMode = if (r.mode == OutputMode.Complete) "overwrite" else "append"
        val sink = r.sink.getOrElse { (batch: Dataset[Row], _: Long) =>
          // each emitted batch is a small rollup/delta; one file per
          // batch beats shuffle.partitions near-empty files per batch
          batch.coalesce(1).write.mode(saveMode).parquet(outDir(root))
        }
        pinned {
          val q = r.query.writeStream
            .outputMode(r.mode)
            .option("checkpointLocation", root.resolve("ck").toString)
            .foreachBatch(sink)
            .start()
          // the first run to completion, then one more after each step
          try ((() => ()) +: r.steps).foreach { step =>
            step()
            q.processAllAvailable()
          } finally q.stop()
        }
        r
      }
      result = Some(run.result())
      result.get
    } finally {
      val abs = root.toAbsolutePath.normalize
      val read = result.toSeq.flatMap(_.inputFiles)
        .map(f => Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath))
        .filter(_.startsWith(abs))
        .map(p => abs.relativize(p).getName(0).toString).toSet
      if (read.isEmpty) deleteStaged(root)
      else Using.resource(Files.list(root))(_.iterator().asScala.toList)
        .filterNot(c => read(c.getFileName.toString))
        .foreach(deleteStaged)
    }
  }

  /** Run `body` with `n` shuffle partitions, session default restored
    * after. Stateful streams pin n = 1 (state partitions = shuffle
    * partitions — the r8 lesson). Trimming n for foreachBatch tick
    * jobs was MEASURED A LOSS for q291 (see streamTriangles) — the
    * tick work there is data-parallel; don't reach for this helper to
    * shrink task fans without timing both sides.
    */
  private def withShufflePartitions[T](
      spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body
    finally spark.conf.set(key, saved)
  }

  /** Run `body` with the RocksDB state-store provider (required by
    * transformWithState) and CHANGELOG checkpointing — commit the
    * batch's delta instead of uploading a full store snapshot per
    * microbatch, the production setting for frequent small commits
    * (measured here: ~0.2 s/batch off the timer harness). Session
    * defaults restored after.
    */
  private[graft] def withRocksDbStore[T](spark: SparkSession)(body: => T): T = {
    val pins = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"),
      ("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled") -> "true",
    )
    val saved = pins.map { case (k, _) => k -> spark.conf.getOption(k) }
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Recursively delete a finished harness's staging artifacts (source
    * copies, superseded snapshots). Same discipline as the cache
    * releases in `Dedup`/`Graph`, applied to disk: a 20-round bench run
    * must not accumulate a staged copy of the events table per
    * query per round. Only ever called on paths under
    * `target/graft_stream` AFTER the stream that read them stopped;
    * the returned result DataFrame must never point inside `p`.
    */
  private[graft] def deleteStaged(p: Path): Unit =
    if (Files.exists(p)) {
      // Files.walk holds directory handles until the stream is CLOSED —
      // a bench run calls this per streaming query, so rely on Using,
      // not on GC, to release them
      Using.resource(Files.walk(p)) { w =>
        w.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }

  /** Pin `file` to arrival slot `i`: the file source replays oldest
    * modification time first, so under `maxFilesPerTrigger=1` staged
    * files trigger in slot order. Slots sit a minute apart from a fixed
    * epoch — arrival order is a pure function of the staging, and a
    * file appended while the stream runs (a sentinel) arrives last.
    */
  private def pinArrival(file: Path, i: Int): Unit =
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))

  /** Stage `df` as ONE parquet file at `dst`, pinned to arrival slot
    * `seq` — the single-file staging device shared by q304's time
    * travel, q330's tombstone stream (arrival order must be a pure
    * function of the data or "before version k" means nothing
    * cross-engine) and Bench's 2-row warm-up tables (the readers name a
    * literal `events.parquet` FILE). The part file is written next to
    * `dst`'s dir, so a stream over that dir never lists it.
    */
  private[graft] def stageFile(df: DataFrame, dst: Path, seq: Int): Unit = {
    val tmp = dst.getParent.resolveSibling(s"stage$seq")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Using.resource(Files.list(tmp)) { fs =>
      fs.iterator().asScala.find { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.get
    }
    Files.createDirectories(dst.getParent)
    Files.move(part, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    pinArrival(dst, seq)
    deleteStaged(tmp)
  }

  /** Stage `df` (µs event time in column `us`) under `src` as TWO
    * TIME-DISJOINT part files in one pass — range-partitioned on `us`,
    * so part-00000 is the low range — pinned to arrive in time order:
    * under `maxFilesPerTrigger=1` batch order is then time order, so no
    * row is ever below the watermark and the oracle comparison stays
    * exact. Returns max(us) (one cheap scan of the staged projection, a
    * bounded 1-row collect) to place the watermark-clearing sentinel.
    */
  private[graft] def stageTimeSlices(df: DataFrame, src: Path): Long = {
    df.repartitionByRange(2, col("us")).write.parquet(src.toString)
    Using.resource(Files.list(src))(_.iterator().asScala.toList)
      .filter(_.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
      .zipWithIndex.foreach { case (p, i) => pinArrival(p, i) }
    df.sparkSession.read.parquet(src.toString)
      .agg(max(col("us"))).head.getLong(0)
  }

  /** Streaming twin of the batch hourly rollup (`ops/Events` q22): read
    * the driver `events` table as a file-source STREAM, aggregate in
    * COMPLETE output mode (the streaming materialized-view shape — state
    * is the rollup itself, bounded by hour×type cardinality, not by the
    * stream), run the query to completion, and return the final result
    * table. Registered as driver query q73 with the SAME DuckDB oracle
    * as q22 — streaming ≡ batch under the exact hash compare. Money-grid
    * note: `value` is on a 2-decimal grid, so rounding the streamed sum
    * at 2dp is association-order-safe (same rule as the batch twin).
    */
  def hourlyTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    // same ts-layout handling as Tables.events — file streams need an
    // explicit schema, so detect the physical type from the footer
    val tsLong = eventsTsIsLong(spark, dir)
    val schema = eventsSchema(tsLong)
    // the file source lists a DIRECTORY; select just the events table
    // out of the shared sf dir by filename glob
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("wts", wtsExpr(tsLong))
    val agg = stream
      .groupBy(
        unix_micros(date_trunc("hour", col("wts"))).as("hour_us"),
        col("event_type"),
      )
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    runStream(spark, "hourly")(root => StreamRun(agg, OutputMode.Complete,
      () => spark.read.parquet(outDir(root))
        .orderBy(col("hour_us"), col("event_type"))))
  }

  /** Append-mode watermarked hourly rollup under the driver's oracle
    * gate (q94) — the late-data semantic no complete/update-mode query
    * exercises externally: each (hour, type) window is emitted EXACTLY
    * ONCE, when the event-time watermark passes it, and its state is
    * then evicted (bounded state — the shape of a real first streaming
    * job on an unbounded feed). Verified against the SAME DuckDB SQL as
    * batch q22, so watermark-driven finalization must reproduce the
    * batch rollup bit-for-bit.
    *
    * To flush the final windows the source is staged into a private dir
    * with a far-future sentinel event alongside the real data: batch 0
    * consumes both (no watermark yet, so nothing emits but the watermark
    * advances past every real window), then a second sentinel in the
    * same far-future hour triggers batch 1, which deterministically
    * emits all finalized real windows. The sentinels' own window never
    * closes (the watermark trails it by the lateness), so only real
    * windows land in the sink; the read-back filter is belt-and-braces.
    * Two runs to completion total — batch emission uses the
    * watermark computed from PRIOR batches, which is also why sentinel
    * #1 can ride with the real data but #2 cannot. The value sum is on
    * the 2-decimal money grid (same argument as q22/q73), so incremental
    * per-window accumulation across microbatches is association-safe.
    */
  def appendHourlyTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    val schema = eventsSchema(tsLong)
    import spark.implicits._
    runStream(spark, "append") { root =>
      val src = root.resolve("src")
      Files.createDirectories(src)
      Files.copy(Paths.get(dir, "events.parquet"), src.resolve("events.parquet"))
      // nanos (converted to the staged layout at write), epoch + ~126 yr;
      // both sentinels land in ONE far-future hour window
      val far = 4000000000000000000L
      def writeSentinel(ts: Long): Unit =
        sentinelTs(Seq((-1L, ts, -1L, "__sentinel__", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          tsLong)
          .coalesce(1).write.mode("append").parquet(src.toString)
      writeSentinel(far) // rides with the real data in batch 0
      val agg = spark.readStream
        .schema(schema)
        .parquet(src.toString)
        .withColumn("wts", wtsExpr(tsLong))
        .withWatermark("wts", "1 hour")
        .groupBy(window(col("wts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(
          unix_micros(col("window.start")).as("hour_us"),
          col("event_type"),
          col("n"),
          col("sum_value"),
        )
      // batch 0: all real data + sentinel #1 through the aggregate — emits
      // nothing (watermark starts at 0) but advances the watermark past
      // every real window; batch 1: sentinel #2 (same far-future hour) —
      // emits every finalized real window under the batch-0 watermark
      StreamRun(agg, OutputMode.Append,
        steps = Seq(() => writeSentinel(far + 1000000000L)),
        result = () => spark.read.parquet(outDir(root))
          .filter(col("event_type") =!= "__sentinel__")
          .orderBy(col("hour_us"), col("event_type")))
    }
  }

  /** MULTIPLE STATEFUL OPERATORS chained in one streaming query under
    * the driver's oracle gate (q138) — the Spark 3.5+ capability none of
    * the single-operator queries exercise: watermarked exact dedup
    * (`dropDuplicatesWithinWatermark`, stateful op 1) feeding an
    * append-mode windowed aggregation (stateful op 2) in the SAME query,
    * each with its own state store, sharing one watermark lineage.
    *
    * The composition is self-proving: the source is staged as TWO full
    * copies of the events table (every event_id duplicated), so if the
    * dedup stage leaked even one duplicate into the aggregation, a
    * window count would be off by one and the cross-engine hash — the
    * oracle aggregates a SINGLE copy — would break. Sentinel flush
    * discipline is q94's, except the two sentinels carry DISTINCT
    * event_ids: the dedup stage would swallow a repeated sentinel id,
    * and while the watermark (computed at the source, upstream of
    * dedup) would still advance, the gate should not depend on that
    * subtlety. Money in integer cents — association-order-safe across
    * microbatch accumulation.
    */
  def dedupThenHourly(spark: SparkSession, dir: String): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    val schema = eventsSchema(tsLong)
    import spark.implicits._
    runStream(spark, "dup") { root =>
      val src = root.resolve("src")
      Files.createDirectories(src)
      // two byte-identical copies: every event arrives exactly twice
      Seq("events_a.parquet", "events_b.parquet").foreach { name =>
        Files.copy(Paths.get(dir, "events.parquet"), src.resolve(name))
      }
      val far = 4000000000000000000L
      def writeSentinel(id: Long, ts: Long): Unit =
        sentinelTs(Seq((id, ts, -1L, "__sentinel__", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
          tsLong)
          .coalesce(1).write.mode("append").parquet(src.toString)
      writeSentinel(-1L, far)
      val agg = spark.readStream
        .schema(schema)
        .parquet(src.toString)
        .withColumn("wts", wtsExpr(tsLong))
        .withWatermark("wts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("wts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(value * 100) AS LONG)")).as("value_cents"))
        .select(
          unix_micros(col("window.start")).as("hour_us"),
          col("event_type"),
          col("n"),
          col("value_cents"),
        )
      StreamRun(agg, OutputMode.Append,
        steps = Seq(() => writeSentinel(-2L, far + 1000000000L)),
        result = () => spark.read.parquet(outDir(root))
          .filter(col("event_type") =!= "__sentinel__")
          .orderBy(col("hour_us"), col("event_type")))
    }
  }

  /** Stream-static enrichment join under the driver's oracle gate: the
    * event stream (file source over the driver `events` table) joins a
    * STATIC broadcast dimension (nation, via the deterministic
    * `user_id % 25` assignment) inside the streaming query, then
    * aggregates per nation in complete mode. This is the standard
    * "enrich the firehose against reference data" shape: the static
    * side is planned per microbatch as an ordinary broadcast hash join,
    * no streaming state beyond the rollup itself. Money stays on the
    * integer cent grid so the streamed sum is association-order-safe.
    */
  def enrichedNationCounts(spark: SparkSession, dir: String): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    val schema = eventsSchema(tsLong)
    val dim = graft.Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"))
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      // `%` (not pmod): the DuckDB oracle's `user_id % 25` keeps the
      // dividend's sign, so the Spark side must use the same operator —
      // they only coincide under pmod because generated ids are >= 0
      .withColumn("nationkey", expr("user_id % 25"))
    val agg = stream
      .join(broadcast(dim), col("nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100) AS LONG)")).as("value_cents"),
      )
    runStream(spark, "enrich")(root => StreamRun(agg, OutputMode.Complete,
      () => spark.read.parquet(outDir(root)).orderBy(col("n_name"))))
  }

  /** Stream-static LEFT ANTI join under the driver's oracle gate (q165)
    * — the blocklist-subtraction shape, and the one anti join Structured
    * Streaming supports (stream-stream anti has no watermark semantics;
    * stream-static plans the static side per microbatch like q92's
    * enrichment join, here as a broadcast ANTI). The blocklist is a
    * batch-derived static table (distinct offending user_ids), so this
    * exercises a genuinely different mechanism from q152's in-row
    * predicate split: membership is decided by a join against state the
    * stream cannot see in its own columns. Complete-mode rollup of the
    * surviving rows; oracle = batch NOT EXISTS on the same rule.
    */
  def cleanFeedCounts(spark: SparkSession, dir: String): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    val block = graft.Tables.events(spark, dir)
      .select(col("user_id")).where(col("user_id") % 13 === 0)
      .distinct()
    val stream = spark.readStream
      .schema(eventsSchema(tsLong))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val clean = stream
      .join(broadcast(block), Seq("user_id"), "left_anti")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100) AS LONG)")).as("value_cents"),
      )
    runStream(spark, "anti")(root => StreamRun(clean, OutputMode.Complete,
      () => spark.read.parquet(outDir(root)).orderBy(col("event_type"))))
  }

  /** Built-in session windows (dynamic-gap session_window aggregation):
    * one row per (user, session) with its event count — the declarative
    * counterpart of `sessionize` below. Append mode: sessions emit once
    * closed by the watermark.
    */
  def sessionWindows(
      events: DataFrame, // needs user_id + wts (event-time timestamp)
      gap: String = "30 minutes",
      lateness: String = "1 minute",
  ): DataFrame =
    events
      .withWatermark("wts", lateness)
      .groupBy(session_window(col("wts"), gap), col("user_id"))
      .agg(count(lit(1)).as("session_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("session_events"),
      )

  /** Streaming exact dedup — the streaming counterpart of the batch
    * content-hash dedup (q30/q33): first arrival of each fingerprint
    * passes, repeats within the watermark horizon are dropped, and state
    * is BOUNDED (fingerprints older than the watermark are evicted —
    * `dropDuplicates` without the watermark variant would grow state
    * forever on an unbounded corpus feed).
    *
    * @param docs  streaming DataFrame with a `text` column and an
    *              event-time column `wts`
    */
  def dedupStream(
      docs: DataFrame,
      lateness: String = "10 minutes",
  ): DataFrame =
    docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark("wts", lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-stream interval join (attribution): each right-side event
    * joins the left-side events of the same user that precede it within
    * `horizon`. Both sides carry watermarks and the join condition
    * bounds event-time distance, so Spark can evict state once the
    * watermark passes `lts + horizon` — the property that keeps a
    * stream-stream join's buffer finite on an unbounded feed. Column
    * names are caller-chosen; the contract is (`luser`, `lts`) ×
    * (`ruser`, `rts`). `joinType` is any stream-stream join type the
    * engine supports (inner, the outer variants, left semi).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      horizon: String = "1 hour",
      lateness: String = "10 minutes",
      joinType: String = "inner",
  ): DataFrame =
    left
      .withWatermark("lts", lateness)
      .join(
        right.withWatermark("rts", lateness),
        expr(
          s"""luser = ruser AND
             |rts >= lts AND rts <= lts + interval $horizon""".stripMargin),
        joinType,
      )

  /** Streaming exact dedup under the driver's oracle gate (q95): run
    * [[dedupStream]] to completion over the `documents` table as a
    * file-source stream and reduce the sunk survivors to one row per
    * content fingerprint. The oracle is the batch distinct-fingerprint
    * SQL, and `n_rows` is the COUNT of emitted survivor rows per
    * fingerprint — a constant 1 on the oracle side — so the hash compare
    * fails if the streaming dedup either drops a fingerprint entirely OR
    * lets a duplicate through (the two ways dedup can be wrong). Which
    * physical row survives a duplicate set is arrival-order-dependent,
    * so only the (deterministic) fingerprint is sunk. Event time is a
    * constant here — the watermark column exists to bound state on an
    * unbounded production feed (StreamingSpec pins the eviction/
    * re-admission semantics); a constant keeps the one-shot replay's
    * watermark behind every fingerprint's expiry so nothing can be
    * re-admitted mid-run. The constant must be POSITIVE: the stateful
    * late-row filter initializes the watermark to epoch 0, and rows at
    * exactly the watermark are dropped as late (verified empirically —
    * event time 0 yields an empty stream).
    */
  def dedupDistinctFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .withColumn("wts", timestamp_seconds(lit(1000000000L)))
    val survivors = dedupStream(docs).select(col("fp"))
    runStream(spark, "dedup")(root => StreamRun(survivors, OutputMode.Append,
      () => spark.read.parquet(outDir(root))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("fp"))))
  }

  /** Shared staging for the stream-stream join matrix (q96 inner, q117
    * left-outer, q178 right-outer, q126 full-outer, q161 left-semi).
    * Stage the click/purchase feed ONCE into `src` as a single file
    * (q94's pattern): only the two event types the joins consume, only
    * the three columns they key on (the wide props JSON never enters the
    * stream), ts NORMALIZED to LONG epoch-µs so the streamed schema is
    * layout-independent. Both join branches derive from ONE readStream
    * — one listing, one scan, two filters per microbatch (two
    * independent sources over the shared sf dir would list and scan it
    * twice). Returns the (clicks, purchases) branches.
    */
  private def attributionFeed(
      spark: SparkSession, dir: String, src: Path): (DataFrame, DataFrame) = {
    val tsLong = eventsTsIsLong(spark, dir)
    spark.read.schema(eventsSchema(tsLong))
      .parquet(s"$dir/events.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), usExpr(tsLong).as("ts_us"), col("user_id"),
        col("event_type"))
      .coalesce(1)
      .write.parquet(src.toString)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, ts_us LONG, user_id LONG, event_type STRING"))
      .parquet(src.toString)
      .withColumn("wts", timestamp_micros(col("ts_us")))
    val clicks = feed.filter(col("event_type") === "click")
      .select(col("user_id").as("luser"), col("wts").as("lts"),
        col("event_id").as("levent"))
    val buys = feed.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ruser"), col("wts").as("rts"),
        col("event_id").as("revent"))
    (clicks, buys)
  }

  /** Stream-stream interval join under the driver's oracle gate (q96):
    * click→purchase attribution over the `events` table — each purchase
    * joins the same user's clicks in the preceding hour via
    * [[intervalJoin]], run to completion, then reduced batch-side to
    * per-user pair counts. The oracle is the equivalent batch self-join
    * in DuckDB, so the stream-stream join's buffered-state matching must
    * emit exactly the batch join's pair set — no duplicate emissions, no
    * dropped matches. Timestamps compare at exact integer microseconds
    * on both sides.
    */
  def attributionCounts(spark: SparkSession, dir: String): DataFrame =
    runStream(spark, "attr") { root =>
      val (clicks, buys) = attributionFeed(spark, dir, root.resolve("src"))
      val pairs = intervalJoin(clicks, buys, horizon = "1 hour")
        .select(col("luser"), col("levent"), col("revent"))
      // ~3 s clean is this harness's floor and the plan is the honest
      // shape: ONE staged pre-filtered single-file source, two branch
      // scans (a streaming self-join physically scans per side), one data
      // microbatch, 1-partition state. Measured dead ends: RocksDB +
      // changelog for the join state LOSES ~1.5 s here (four store
      // instances' JNI overhead vs tiny heap deltas — the opposite
      // trade-off from q112/q113's single keyed store), and the branches
      // already share one projection, so there is no second scan to
      // remove without replacing the built-in stream-stream join this
      // query exists to exercise.
      StreamRun(pairs, OutputMode.Append, () =>
        spark.read.parquet(outDir(root))
          .groupBy(col("luser").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("revent")).as("n_purchases"))
          .orderBy(col("user_id")))
    }

  /** The outer variants' harness (q117, q178, q126): one data batch —
    * pairs emit, orphans buffer — then one far-future click+purchase
    * sentinel pair on a reserved key advances BOTH sides' watermarks
    * past `max(ts) + horizon`, so the eviction batch releases every
    * still-buffered orphan. The pair matches only itself; `read` gets
    * the sunk `cols` and filters the reserved negative ids. 1 state
    * partition like every bounded-result harness here: measured 4-way
    * at sf0.1, the four join stores' extra per-partition commits cost
    * ~1.5 s more than the added task parallelism recovers.
    */
  private def outerAttribution(
      spark: SparkSession, dir: String, tag: String, joinType: String,
      cols: Seq[String])(read: DataFrame => DataFrame): DataFrame =
    runStream(spark, tag) { root =>
      import spark.implicits._
      val src = root.resolve("src")
      val (clicks, buys) = attributionFeed(spark, dir, src)
      // bounded 1-row collect, before the sentinel lands in `src`: the
      // sentinel must clear every click's outer-eviction bound,
      // max(ts) + horizon, plus the watermark delay (+ 2 s)
      val sentUs = spark.read.parquet(src.toString)
        .agg(max(col("ts_us"))).head.getLong(0) +
        (3600L + 600L + 2L) * 1000000L
      StreamRun(
        intervalJoin(clicks, buys, joinType = joinType).select(cols.map(col): _*),
        OutputMode.Append,
        steps = Seq(() =>
          Seq((-1L, sentUs, -1L, "click"), (-2L, sentUs, -1L, "purchase"))
            .toDF("event_id", "ts_us", "user_id", "event_type")
            .coalesce(1).write.mode("append").parquet(src.toString)),
        result = () => read(spark.read.parquet(outDir(root))))
    }

  /** Keyed upsert of an update-mode delta into a snapshot: delete-and-
    * replace by key (anti-join the delta's keys out of the current
    * snapshot, union the delta). IDEMPOTENT by construction —
    * `merge(merge(s, d), d) = merge(s, d)` — which is what turns
    * `foreachBatch`'s at-least-once delivery into exactly-once state at
    * the sink: a batch replayed after a failure deletes its own
    * previous writes before re-inserting them (StreamingSpec locks the
    * property). This is the merge every CDC-consuming table format
    * performs; here the snapshot is a parquet dir, there it is a keyed
    * table.
    */
  private[graft] def upsertMerge(
      snapshot: DataFrame,
      delta: DataFrame,
      key: String,
  ): DataFrame =
    snapshot
      .join(delta.select(col(key)), Seq(key), "left_anti")
      .unionByName(delta)

  /** Streaming UPDATE-mode upsert under the driver's oracle gate (q107)
    * — the CDC-shaped third output mode (append is q94, complete is
    * q73/q97): a per-user latest-wins aggregate emits only the keys each
    * microbatch CHANGED, and `foreachBatch` merges those deltas into a
    * keyed sink — delete-and-replace by key, the upsert every
    * incremental materialization job performs against a real keyed
    * store. The sink here is a sequence of immutable snapshot
    * directories (write `v<batchId>` by anti-joining the delta's keys
    * out of `v<prev>` and unioning the delta — the same
    * copy-on-write MVCC discipline table formats use), because
    * overwriting a directory that the merge plan is lazily READING
    * would corrupt it; one snapshot per batch, last snapshot wins.
    * The snapshot set is also the sink's recovery log: each batch
    * re-derives its predecessor by listing `v*` (never from driver
    * state) and installs its output with temp-dir + atomic rename, so
    * a batch replayed under foreachBatch's at-least-once contract
    * rebuilds the identical snapshot instead of throwing or dropping
    * prior state — upsertMerge's idempotence made exactly-once STATE;
    * this makes the harness's WRITES replay-safe too.
    *
    * The source is staged into a private dir SPLIT INTO FOUR FILES with
    * `maxFilesPerTrigger=1`, so the run genuinely exercises four
    * microbatches of cross-batch state: a user whose events span files
    * is emitted repeatedly, each emission reflecting TOTAL state so far,
    * and the final snapshot must equal batch q100 exactly — same
    * max_by-over-(ts,event_id) ordering, same DuckDB oracle. Update-mode
    * emission per key is the CURRENT aggregate value (not a delta), so
    * "latest emission per key" ≡ "final state per key" regardless of how
    * the file splitter scattered each user's rows across batches.
    */
  def latestCompactUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = struct(unix_micros(col("wts")), col("event_id"))
    cowUpsertHarness(spark, dir, "ups",
      agg = src => src
        .groupBy($"user_id")
        .agg(
          max_by($"event_type", ord).as("last_type"),
          max_by(expr("CAST(ROUND(value * 100) AS LONG)"), ord)
            .as("last_value_cents"),
          max(unix_micros($"wts")).as("last_us"),
          count(lit(1)).as("n_events"),
        ),
      merge = {
        case (None, delta)    => delta
        case (Some(p), delta) => upsertMerge(p, delta, "user_id")
      })
  }

  /** Tombstone-aware keyed merge — the CDC DELETE primitive on top of
    * [[upsertMerge]]: every key the delta touches is first anti-joined
    * out of the snapshot, then only the delta rows whose `opCol` is NOT
    * a tombstone are re-inserted (with the op column dropped — a live
    * snapshot row carries values, not changelog verbs). Idempotent for
    * the same reason upsertMerge is: replaying a delta anti-joins its
    * own previous application away before re-applying, so a tombstone
    * replayed against a snapshot it already deleted from is a no-op
    * (Round10Spec locks this).
    */
  private[graft] def tombstoneMerge(
      snapshot: DataFrame,
      delta: DataFrame,
      key: String,
      opCol: String,
  ): DataFrame =
    snapshot
      .join(delta.select(col(key)), Seq(key), "left_anti")
      .unionByName(delta.filter(col(opCol) =!= "delete").drop(opCol))

  /** CDC changelog with DELETES under the driver's oracle gate (q125) —
    * the GDPR / right-to-be-forgotten primitive q107's insert/update
    * upsert lacks: each event carries an op (`error` events are the
    * synthetic tombstone action, everything else upserts), the
    * update-mode aggregate tracks each user's LATEST op under the total
    * (ts, event_id) order, and the [[tombstoneMerge]] fold removes a
    * key from the snapshot when its latest changelog action is a
    * delete. A user deleted in one microbatch and re-upserted by a
    * later event re-enters the snapshot — latest-wins semantics across
    * ops, which is exactly what the batch oracle states: q100's
    * latest-compaction MINUS the keys whose final action is a
    * tombstone. Same staged 4-file source, so delete→reinsert genuinely
    * crosses microbatch boundaries; same replay-safe copy-on-write
    * snapshot chain.
    */
  def cdcTombstoneCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = struct(unix_micros(col("wts")), col("event_id"))
    cowUpsertHarness(spark, dir, "cdc",
      agg = src => src
        .withColumn("op",
          when($"event_type" === "error", "delete").otherwise("upsert"))
        .groupBy($"user_id")
        .agg(
          max_by($"op", ord).as("last_op"),
          max_by($"event_type", ord).as("last_type"),
          max_by(expr("CAST(ROUND(value * 100) AS LONG)"), ord)
            .as("last_value_cents"),
          max(unix_micros($"wts")).as("last_us"),
          count(lit(1)).as("n_events"),
        ),
      merge = {
        case (None, delta) =>
          delta.filter(col("last_op") =!= "delete").drop("last_op")
        case (Some(p), delta) =>
          tombstoneMerge(p, delta, "user_id", "last_op")
      })
  }

  /** Shared staging + copy-on-write snapshot machinery for the
    * update-mode CDC harnesses (q107 upsert, q125 tombstone): stage the
    * events as FOUR part files read with `maxFilesPerTrigger=1` (four
    * genuine cross-batch microbatches), run `agg` over the staged
    * stream in update mode, and fold each emitted delta into a
    * `v<batchId>` snapshot chain via `merge` — temp-dir + atomic
    * rename, self-recovering from the sink's own directory listing,
    * retention 2. Returns the final snapshot ordered by `user_id`.
    */
  private def cowUpsertHarness(
      spark: SparkSession,
      dir: String,
      tag: String,
      agg: DataFrame => DataFrame,
      merge: (Option[DataFrame], DataFrame) => DataFrame,
  ): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    import spark.implicits._
    runStream(spark, tag) { root =>
      val srcDir = root.resolve("src").toString
      // Stage the input as 4 part files → 4 genuine cross-batch
      // microbatches, projecting away the wide props JSON the aggregate
      // never touches (the staging shuffle would otherwise move and
      // rewrite it 1:1 — column pruning belongs at the WRITE when the
      // writer owns the layout). Staging normalizes ts to LONG epoch-µs
      // so the streamed schema is layout-independent.
      val upsSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, " +
          "value DOUBLE")
      spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_id", usExpr(tsLong).as("ts_us"), $"user_id",
          $"event_type", $"value")
        .repartition(4)
        .write.parquet(srcDir)
      val aggDf = agg(spark.readStream
        .schema(upsSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .withColumn("wts", timestamp_micros(col("ts_us"))))
      // Sink recovery reads the sink itself, never driver memory: the
      // v<batchId> commit dirs ARE the log ([[StoreLog]] — r15 factored
      // the four hand-rolled chains into it). A batch replayed after
      // checkpoint recovery re-derives the same predecessor
      // (`latestBefore` — its own prior attempt is superseded output,
      // not input), rewrites its own commit via temp-dir + atomic
      // rename, and lands byte-identical content because upsertMerge is
      // idempotent. Retention is 2 (snapshot + predecessor) so a
      // single-batch replay always finds its true predecessor; older
      // snapshots are vacuumed.
      val log = new StoreLog(root.resolve("sink"), "v", retention = 2)
      StreamRun(aggDf, OutputMode.Update,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          val sp = batch.sparkSession
          val merged = merge(
            log.latestBefore(id).map(p => sp.read.parquet(log.path(p))),
            batch.toDF())
          // the merge plan lazily READS v<prev>, so the write target is
          // always a fresh temp dir, moved into place only once durable
          log.commitTable(id, merged)
        },
        result = { () =>
          val out = log.readLatest(spark)
          require(out.nonEmpty, s"$tag: no sink snapshot was written")
          out.get.orderBy(col("user_id"))
        })
    }
  }

  /** Install one sink's slice of a microbatch as an immutable
    * `b<batchId>` directory — temp-dir + atomic rename, so a batch
    * replayed under foreachBatch's at-least-once contract REPLACES its
    * own previous attempt (same id ⇒ same target) instead of appending
    * a duplicate. This is the idempotence discipline that makes a
    * MULTI-sink foreachBatch exactly-once per sink: each sink's commit
    * unit is keyed by batch id, so a crash between the two installs
    * replays into overwrites, never double-counts. (Round10Spec drives
    * the writer twice with one id and asserts both sinks unchanged.)
    */
  private[graft] def fanoutInstall(
      batch: DataFrame,
      sinkDir: java.nio.file.Path,
      id: Long,
  ): Unit =
    new StoreLog(sinkDir, "b").commitTable(id, batch)

  /** Dual-sink streaming fanout under the driver's oracle gate (q152) —
    * the multi-sink delivery pattern every ingest job needs and no
    * single-sink harness exercises: ONE stream split by a routing
    * predicate into a CLEAN feed and a QUARANTINE feed (here a
    * blocklist: `user_id % 13 = 0` rows are impounded), both written
    * from the SAME foreachBatch invocation via [[fanoutInstall]]'s
    * batchId-keyed atomic installs. foreachBatch is the only place a
    * streaming query may address two sinks; the contract that makes it
    * correct is per-sink idempotent commit units, not a cross-sink
    * transaction — a replay rewrites both slices byte-identically.
    *
    * The query itself is a stateless projection (the interesting state
    * is the SINK protocol), staged as 4 part files read with
    * `maxFilesPerTrigger=1` so four genuine microbatches traverse the
    * dual-install path. The summary read back unions both sinks and
    * must hash-match a one-scan batch oracle over the source table —
    * a lost batch, duplicated install, or row routed to both sinks
    * breaks per-type counts.
    */
  def streamFanout(spark: SparkSession, dir: String): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    import spark.implicits._
    runStream(spark, "fan") { root =>
      val srcDir = root.resolve("src").toString
      val slimSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, " +
          "value DOUBLE")
      spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_id", usExpr(tsLong).as("ts_us"), $"user_id",
          $"event_type", $"value")
        .repartition(4)
        .write.parquet(srcDir)
      val stream = spark.readStream
        .schema(slimSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .withColumn("cents", expr("CAST(ROUND(value * 100) AS LONG)"))
        .withColumn("blocked", $"user_id" % 13 === 0)
      val clean = root.resolve("clean")
      val quar = root.resolve("quar")
      def readSink(p: Path): DataFrame =
        spark.read.option("recursiveFileLookup", "true").parquet(p.toString)
      StreamRun(stream, OutputMode.Append,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          // both slices derive from one cached pass over the batch —
          // a file-source batch is re-readable, but don't scan it twice
          val b = batch.persist()
          try {
            fanoutInstall(b.filter(!col("blocked")).drop("blocked"),
              clean, id)
            fanoutInstall(b.filter(col("blocked")).drop("blocked"),
              quar, id)
          } finally { b.unpersist(); () }
        },
        result = { () =>
          val cleanAgg = readSink(clean)
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n_clean"), sum($"cents").as("clean_cents"))
          val quarAgg = readSink(quar)
            .groupBy($"event_type")
            .agg(count(lit(1)).as("n_quar"))
          cleanAgg
            .join(quarAgg, Seq("event_type"), "full_outer")
            .select($"event_type",
              coalesce($"n_clean", lit(0L)).as("n_clean"),
              coalesce($"clean_cents", lit(0L)).as("clean_cents"),
              coalesce($"n_quar", lit(0L)).as("n_quar"))
            .orderBy($"event_type")
        })
    }
  }

  /** LEFT OUTER stream-stream interval join under the driver's oracle
    * gate (q117) — the semantic q96's inner join cannot exercise: an
    * unmatched click is emitted WITH NULLS exactly once, when the
    * watermark proves no qualifying purchase can still arrive (the
    * join's time bound lets the engine evict left state past
    * `lts + horizon`, and eviction is what RELEASES the null row — on
    * an unbounded feed outer results are a consequence of state
    * lifecycle, not of end-of-input). The oracle is the equivalent
    * batch LEFT JOIN in DuckDB, so both the matched pair set AND the
    * orphan set must be exact: a dropped orphan, a duplicate null row,
    * or an orphan emitted despite a live match all break the hash.
    *
    * Harness: [[outerAttribution]] — q96's staged single-file source,
    * one data batch, then a sentinel pair flushes every buffered orphan.
    */
  def attributionOuter(spark: SparkSession, dir: String): DataFrame =
    outerAttribution(spark, dir, "outer", "leftOuter",
      Seq("luser", "levent", "revent")) {
      _.filter(col("luser") >= 0L)
        .groupBy(col("luser").as("user_id"))
        .agg(
          count(col("revent")).as("n_pairs"),
          sum(when(col("revent").isNull, 1L).otherwise(0L)).as("n_orphans"),
          countDistinct(col("revent")).as("n_purchases"),
        )
        .orderBy(col("user_id"))
    }

  /** RIGHT OUTER stream-stream interval join under the driver's oracle
    * gate (q178) — the symmetric twin of q117 that completes the join
    * matrix (q96 inner, q117 left, q126 full, q161 left-semi): an
    * unmatched PURCHASE emits with null click columns exactly once,
    * when the watermark proves no qualifying click can still arrive.
    * Right-outer is not left-outer with renamed inputs: the interval
    * condition is asymmetric (`rts ∈ [lts, lts + 1h]` — the purchase
    * trails the click), so the evicting side, the state bound, and the
    * orphan population all differ, and the engine's right-side
    * null-release path is its own code. The oracle is the equivalent
    * batch RIGHT JOIN in DuckDB; the fixture genuinely carries
    * right-side orphans (purchases with no qualifying click —
    * Round11Spec pins that, q126's discipline), so a dropped or
    * duplicated null row breaks the per-user hash.
    *
    * Harness: [[outerAttribution]], identical to q117.
    */
  def attributionRightOuter(spark: SparkSession, dir: String): DataFrame =
    outerAttribution(spark, dir, "router", "rightOuter",
      Seq("ruser", "levent", "revent")) {
      _.filter(col("ruser") >= 0L)
        .groupBy(col("ruser").as("user_id"))
        .agg(
          count(col("levent")).as("n_pairs"),
          sum(when(col("levent").isNull, 1L).otherwise(0L)).as("n_orphans"),
          countDistinct(col("levent")).as("n_clicks"),
        )
        .orderBy(col("user_id"))
    }

  /** FULL OUTER stream-stream interval join under the driver's oracle
    * gate (q126) — completes the outer matrix (q96 inner, q117 left):
    * BOTH sides' state lifecycles must now emit on eviction. A click
    * with no qualifying purchase releases a (click, NULL) row when the
    * right watermark passes `lts + horizon`; a purchase preceded by no
    * qualifying click releases a (NULL, purchase) row when the left
    * watermark passes `rts` — two independent eviction paths, each
    * required to fire exactly once per orphan. The batch FULL OUTER
    * join oracle makes all three populations exact at once: a dangling
    * orphan on either side, a duplicate null-row, or a pair double-
    * counted across the eviction batches all break the hash.
    *
    * Harness: [[outerAttribution]], identical to q117's; the sentinels
    * match each other, so they surface as one filtered pair, never as
    * orphans.
    */
  def attributionFullOuter(spark: SparkSession, dir: String): DataFrame =
    outerAttribution(spark, dir, "fouter", "fullOuter",
      Seq("luser", "ruser", "levent", "revent")) {
      _.filter(coalesce(col("luser"), col("ruser")) >= 0L)
        .groupBy(coalesce(col("luser"), col("ruser")).as("user_id"))
        .agg(
          sum(when(col("levent").isNotNull && col("revent").isNotNull, 1L)
            .otherwise(0L)).as("n_pairs"),
          sum(when(col("revent").isNull, 1L).otherwise(0L))
            .as("n_left_orphans"),
          sum(when(col("levent").isNull, 1L).otherwise(0L))
            .as("n_right_orphans"),
        )
        .orderBy(col("user_id"))
    }

  /** LEFT SEMI stream-stream interval join under the driver's oracle
    * gate (q161) — completes the join matrix (q96 inner, q117 left
    * outer, q126 full outer): a click emits AT MOST ONCE, when its
    * first qualifying purchase arrives, with no right-side columns and
    * no duplicate emissions however many purchases match. Existence
    * semantics on an unbounded feed: right state still buffers and
    * evicts by watermark, but nothing is released at eviction — which
    * is why this harness needs NO sentinel flush: every row the batch
    * EXISTS oracle selects has emitted by the time the data batch
    * drains. The oracle is the equivalent correlated EXISTS in DuckDB,
    * so a duplicate (inner-join-like) emission or a dropped match both
    * break the per-user click counts.
    */
  def attributionSemi(spark: SparkSession, dir: String): DataFrame =
    runStream(spark, "semi") { root =>
      val (clicks, buys) = attributionFeed(spark, dir, root.resolve("src"))
      StreamRun(intervalJoin(clicks, buys, joinType = "leftSemi"),
        OutputMode.Append, () =>
          spark.read.parquet(outDir(root))
            .groupBy(col("luser").as("user_id"))
            .agg(count(lit(1)).as("n_matched"),
              countDistinct(col("levent")).as("n_distinct"))
            .orderBy(col("user_id")))
    }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-(user, event-type) running counts on a transformWithState
    * [[org.apache.spark.sql.streaming.MapState]] — the third state
    * primitive, for the case where a key's state has DYNAMIC sub-keys
    * (the map key is data, not schema): one map entry per event type
    * ever seen by the user, point-updated per row. A ValueState of a
    * whole map would rewrite every entry on any update; MapState
    * reads/writes only the touched sub-keys — at 100 TB keyed state
    * with wide per-key maps that difference is the store's write
    * amplification. Emits only the types touched in the batch (update
    * mode, monotone per (user, type)).
    */
  final class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), TypeCount] {
    @transient private var st:
        org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[TypeCount] = {
      // batch-local pre-aggregation first: one store read+write per
      // TOUCHED TYPE instead of three per input row — store ops (JNI
      // for RocksDB) are the cost at scale, exactly like map-side
      // combine ahead of a shuffle
      val local = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach { case (_, tpe) =>
        local.update(tpe, local.getOrElse(tpe, 0L) + 1L)
      }
      // materialized before returning: the emitted counts must be read
      // while this key's state handle is the active one
      local.iterator.map { case (tpe, add) =>
        val n = (if (st.containsKey(tpe)) st.getValue(tpe) else 0L) + add
        st.updateValue(tpe, n)
        TypeCount(user, tpe, n)
      }.toArray.iterator
    }
  }

  /** q118: [[TypeCountProcessor]] run to completion under the driver's
    * oracle gate — MapState externally hash-verified against the plain
    * batch rollup (`COUNT(*) per (user, type)`). Update-mode emissions
    * are monotone per (user, type), so the final value is a `max` over
    * the sunk rows, the same reduction as q85/q112. Cross-batch map
    * accumulation is driven by Round9Spec; RocksDB + changelog as for
    * every transformWithState query.
    */
  def typeCountsTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "twstypes", rocksDb = true) { root =>
      implicit val outEnc = Encoders.product[TypeCount]
      val updates = spark.readStream
        .schema(eventsSchema(tsLong))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .select($"user_id", $"event_type")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new TypeCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update, () =>
        spark.read.parquet(outDir(root))
          .groupBy($"user_id", $"event_type")
          .agg(max($"n").as("n"))
          .orderBy($"user_id", $"event_type"))
    }
  }

  /** Built-in session windows under the driver's oracle gate (q97):
    * [[sessionWindows]] (30-minute dynamic gap) over the `events` table
    * as a file-source stream, run to completion in COMPLETE mode — every
    * trigger emits the full current session set, so the final sink state
    * is the batch-equivalent sessionization without any sentinel
    * machinery (append mode + watermark eviction is the unbounded-feed
    * shape; StreamingSpec covers it). The oracle is the gaps-and-islands
    * SQL with the SAME merge rule as session_window: a new session
    * starts when the gap is >= the window gap (an event extends a
    * session only while it overlaps the previous event's [t, t+gap)
    * window). Session bounds are exact integer microseconds.
    */
  def sessionWindowRollup(spark: SparkSession, dir: String): DataFrame = {
    val tsLong = eventsTsIsLong(spark, dir)
    val src = spark.readStream
      .schema(eventsSchema(tsLong))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("wts", wtsExpr(tsLong))
      .select(col("user_id"), col("wts"))
    val sessions = sessionWindows(src, gap = "30 minutes")
      .select(
        col("user_id"),
        unix_micros(col("s_start")).as("s_start_us"),
        unix_micros(col("s_end")).as("s_end_us"),
        col("session_events"),
      )
    runStream(spark, "sessw")(root => StreamRun(sessions, OutputMode.Complete,
      () => spark.read.parquet(outDir(root))
        .orderBy(col("user_id"), col("s_start_us"))))
  }

  final case class DetectState(tail: Array[Int], nextSeq: Long,
      matches: Long)
  final case class DetectCount(stream_id: Long, matches: Long)

  /** Online pattern detection over a replayed event stream — the
    * reference's target workload ("learning sequences lifelong and
    * online", its README) as a stateful streaming job: per stream key,
    * keep the last L-1 event types as state, slide an L-window across
    * batch boundaries, and count dictionary matches. Events must arrive
    * seq-ordered per key (replay guarantees it; state tracks nextSeq and
    * fails loudly on gaps rather than miscounting).
    */
  def detectPatterns(
      events: Dataset[(Long, Long, Int)], // (stream_id, seq, event_type)
      dictionary: Array[Array[Int]],
  ): Dataset[DetectCount] = {
    val L = dictionary.headOption.map(_.length).getOrElse(0)
    require(L >= 2, "pattern dictionary must have length >= 2")
    implicit val stEnc  = Encoders.product[DetectState]
    implicit val outEnc = Encoders.product[DetectCount]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[(Long, Long, Int)],
         state: GroupState[DetectState]) =>
          val batch = it.toArray.sortBy(_._2)
          var st = state.getOption.getOrElse(
            DetectState(Array.empty, 0L, 0L))
          var buf     = st.tail
          var matches = st.matches
          batch.foreach { case (_, seq, tpe) =>
            require(st.nextSeq == 0L || seq == st.nextSeq,
              s"stream $id gap/out-of-order at seq $seq (want ${st.nextSeq})")
            buf = (buf :+ tpe).takeRight(L)
            if (buf.length == L &&
              dictionary.exists(java.util.Arrays.equals(_, buf)))
              matches += 1
            st = DetectState(buf, seq + 1, matches)
          }
          state.update(st)
          Iterator.single(DetectCount(id, matches))
      }
  }

  final case class SessionState(lastUs: Long, sessions: Long, events: Long)
  final case class SessionCount(user_id: Long, sessions: Long, events: Long)

  final case class SessStatState(
      lastUs: Long,
      sessions: Long,
      events: Long,
      curEvents: Long,
      maxEvents: Long,
  )
  final case class SessStatRow(
      user_id: Long,
      n_sessions: Long,
      n_events: Long,
      max_session_events: Long,
  )

  /** Stateful streaming under the driver's oracle gate: per-user session
    * stats via `flatMapGroupsWithState`, run to completion over the
    * driver `events` table as a file-source stream, with the SAME output
    * columns (and DuckDB oracle) as the batch sessionizer `Events.q20` —
    * custom streaming state, externally hash-verified.
    *
    * Update mode emits the running per-user row each microbatch; every
    * emitted measure is monotone non-decreasing, so the final value per
    * user is a `max` over the sunk rows — correct whether the
    * source arrives as one microbatch or many. Events are sorted by
    * time inside a batch and the state carries the last-seen timestamp,
    * so ordered replay reproduces batch semantics exactly (the
    * cross-microbatch split case is pinned by StreamingSpec).
    */
  def sessionStats(
      spark: SparkSession,
      dir: String,
      gapUs: Long = 1800L * 1000000L,
  ): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    val schema = eventsSchema(tsLong)
    implicit val stEnc  = Encoders.product[SessStatState]
    implicit val outEnc = Encoders.product[SessStatRow]
    val updates = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .select($"user_id", usExpr(tsLong).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long)],
         state: GroupState[SessStatState]) =>
          val sorted = it.map(_._2).toArray
          java.util.Arrays.sort(sorted)
          var st = state.getOption.getOrElse(
            SessStatState(Long.MinValue, 0L, 0L, 0L, 0L))
          sorted.foreach { us =>
            val newSession =
              st.lastUs == Long.MinValue || us - st.lastUs > gapUs
            val cur = if (newSession) 1L else st.curEvents + 1L
            st = SessStatState(
              us,
              st.sessions + (if (newSession) 1L else 0L),
              st.events + 1L,
              cur,
              math.max(st.maxEvents, cur),
            )
          }
          state.update(st)
          Iterator.single(
            SessStatRow(user, st.sessions, st.events, st.maxEvents))
      }
    runStream(spark, "sessions")(root => StreamRun(updates.toDF(),
      OutputMode.Update, () => maxSessionStats(spark.read.parquet(outDir(root)))))
  }

  /** The q85/q112 read side: every emitted measure is monotone
    * non-decreasing, so the final value per user is a `max` over the
    * sunk rows. */
  private def maxSessionStats(emitted: DataFrame): DataFrame =
    emitted
      .groupBy(col("user_id"))
      .agg(
        max(col("n_sessions")).as("n_sessions"),
        max(col("n_events")).as("n_events"),
        max(col("max_session_events")).as("max_session_events"),
      )
      .orderBy(col("user_id"))

  /** Per-user session stats as a [[org.apache.spark.sql.streaming.
    * StatefulProcessor]] — the transformWithState successor of the
    * `flatMapGroupsWithState` sessionizer above (q85): named typed state
    * (`ValueState`) from a handle instead of one opaque blob, explicit
    * init/close lifecycle, per-state TTL support, and a RocksDB-backed
    * store required by contract. Semantics are identical to q85's fold
    * by construction: same in-batch time sort, same carried last-seen
    * timestamp, so ordered replay reproduces `Events.q20` exactly.
    */
  final class SessStatProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), SessStatRow] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[SessStatState] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[SessStatState]("sess",
        Encoders.product[SessStatState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[SessStatRow] = {
      val sorted = rows.map(_._2).toArray
      java.util.Arrays.sort(sorted)
      var s =
        if (st.exists()) st.get()
        else SessStatState(Long.MinValue, 0L, 0L, 0L, 0L)
      sorted.foreach { us =>
        val newSession = s.lastUs == Long.MinValue || us - s.lastUs > gapUs
        val cur = if (newSession) 1L else s.curEvents + 1L
        s = SessStatState(
          us,
          s.sessions + (if (newSession) 1L else 0L),
          s.events + 1L,
          cur,
          math.max(s.maxEvents, cur),
        )
      }
      st.update(s)
      Iterator.single(SessStatRow(user, s.sessions, s.events, s.maxEvents))
    }
  }

  /** Minimal per-key running count whose `ValueState` carries a real
    * processing-time [[org.apache.spark.sql.streaming.TTLConfig]] — the
    * OTHER half of the bounded-state story the RocksDB backend and the
    * watermark timers tell: on feeds whose key space grows without
    * bound (device ids, session tokens), state for keys that go quiet
    * must age out by itself. With a TTL the store stops returning (and
    * eventually physically removes) values older than the duration, so
    * an idle key's next arrival starts from empty; with `TTLConfig
    * .NONE` the same drive accumulates forever. Round9Spec proves both
    * sides. TTL is processing-time by definition (it bounds RESOURCES,
    * not event-time semantics), which is why the session operators keep
    * exactness with watermark timers instead and TTL stays NONE there.
    */
  final class TtlCounter(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long)] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Long]("n", Encoders.scalaLong, ttl)
    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[(Long, Long)] = {
      val prior = if (st.exists()) st.get() else 0L
      val n = prior + rows.size
      st.update(n)
      Iterator.single((key, n))
    }
  }

  final case class ClosedSession(
      user_id: Long,
      s_start_us: Long,
      s_last_us: Long,
      n: Long,
  )
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  /** Event-time-timer sessionizer on the transformWithState API — the
    * UNBOUNDED-feed shape: a session is emitted exactly once, when the
    * event-time WATERMARK passes its inactivity gap (a registered timer
    * fires), and its state is cleared — so state is bounded by open
    * sessions, not stream length, and no sentinel/run-to-completion
    * machinery is needed to flush results.
    *
    * Disorder contract: any arrival order the watermark permits is
    * handled exactly. Per-key state is the set of DISJOINT open
    * intervals (each pair separated by > gap); a row merges into every
    * interval within `gap` of it (possibly bridging two), extends
    * bounds with min/max — so an in-watermark row older than the
    * interval's last event extends it backward instead of corrupting
    * `s_last_us` — or opens a new interval when it lands > gap from all
    * of them. An interval is closed ONLY when the watermark passes
    * `last + gap`: from then on every admissible row is too late to
    * extend it, which is precisely the exactly-once condition.
    * (Closing eagerly on an in-batch gap — the round-8 shape — emits
    * early and breaks if a late-but-in-watermark straggler then lands
    * inside the emitted session.) The interval list is bounded by
    * watermark-delay / gap + 1 per key, a small constant.
    *
    * One timer per key, armed at the EARLIEST interval expiry; the
    * armed timestamp is carried in `armed` state so re-arming deletes
    * exactly the previous registration (never a mutate-while-iterating
    * sweep of `listTimers()`). Rows below the watermark are dropped
    * here as well as by the operator's own late-row filter, so the drop
    * rule holds even if the event-time column was projected away before
    * this operator. Round8Spec drives the dense/idle cases across
    * microbatches; Round9Spec drives in-watermark disorder, interval
    * splitting, and late-row drops.
    */
  final class SessionCloser(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), ClosedSession] {
    @transient private var st:
        org.apache.spark.sql.streaming.ListState[OpenSession] = _
    @transient private var armed:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      st = getHandle.getListState[OpenSession]("open",
        Encoders.product[OpenSession],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    private def expiryMs(o: OpenSession): Long =
      (o.lastUs + gapUs) / 1000L + 1L
    /** Point the key's single timer at the earliest open expiry (or
      * disarm if nothing is open). Idempotent: an unchanged expiry
      * leaves the existing registration in place.
      */
    private def rearm(open: Seq[OpenSession]): Unit = {
      val prev = if (armed.exists()) armed.get() else -1L
      if (open.isEmpty) {
        if (prev >= 0L) { getHandle.deleteTimer(prev); armed.clear() }
      } else {
        val next = open.iterator.map(expiryMs).min
        if (next != prev) {
          if (prev >= 0L) getHandle.deleteTimer(prev)
          getHandle.registerTimer(next)
          armed.update(next)
        }
      }
    }
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[ClosedSession] = {
      // getCurrentWatermarkInMs() is the batch's EVICTION watermark (the
      // value the same batch's timer pass closes against), NOT the
      // late-record admission watermark one update behind it — pinned by
      // Round10Spec's straggler-between-the-two-watermarks probe. A row
      // the operator admitted but that lands below this value is dropped
      // HERE, deterministically, so a session can never be extended by a
      // row the eviction sweep has already sealed past — the invariant
      // that keeps this processor equal to the batch oracle under any
      // staging, not just time-ordered harnesses.
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val sorted = rows.map(_._2).filter(_ >= wmUs).toArray
      java.util.Arrays.sort(sorted)
      var ivs: List[OpenSession] = if (st.exists()) st.get().toList else Nil
      sorted.foreach { us =>
        val (near, far) = ivs.partition(o =>
          us >= o.startUs - gapUs && us <= o.lastUs + gapUs)
        val merged = near.foldLeft(OpenSession(us, us, 1L)) { (a, o) =>
          OpenSession(math.min(a.startUs, o.startUs),
            math.max(a.lastUs, o.lastUs), a.n + o.n)
        }
        ivs = merged :: far
      }
      // An interval whose whole reachable range already sits below the
      // watermark can close batch-side (its timer becomes a no-op on the
      // now-empty slot); everything else waits for its timer.
      val (done, open) = ivs.partition(o => o.lastUs + gapUs < wmUs)
      st.clear()
      if (open.nonEmpty) st.put(open.toArray)
      rearm(open)
      done.sortBy(_.startUs).iterator
        .map(o => ClosedSession(user, o.startUs, o.lastUs, o.n))
    }
    override def handleExpiredTimer(
        user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo,
    ): Iterator[ClosedSession] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      val ivs = if (st.exists()) st.get().toList else Nil
      // the fired timer is consumed by the framework; `armed` no longer
      // describes a live registration until rearm() below rewrites it
      armed.clear()
      val (done, open) = ivs.partition(o => o.lastUs + gapUs < wmUs)
      st.clear()
      if (open.nonEmpty) st.put(open.toArray)
      rearm(open)
      done.sortBy(_.startUs).iterator
        .map(o => ClosedSession(user, o.startUs, o.lastUs, o.n))
    }
  }

  /** q112: [[SessStatProcessor]] run to completion under the driver's
    * oracle gate — the same DuckDB oracle as batch q20 and legacy-API
    * q85, so the NEW arbitrary-state API (transformWithState) is
    * externally hash-verified against both the batch semantics and its
    * predecessor. transformWithState requires the RocksDB state store;
    * the conf is pinned for this query and restored after (the same
    * save/restore discipline as the shuffle-partition wrap).
    */
  def sessionStatsTws(
      spark: SparkSession,
      dir: String,
      gapUs: Long = 1800L * 1000000L,
  ): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "twssess", rocksDb = true) { root =>
      implicit val outEnc = Encoders.product[SessStatRow]
      val updates = spark.readStream
        .schema(eventsSchema(tsLong))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .select($"user_id", usExpr(tsLong).as("us"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessStatProcessor(gapUs),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update,
        () => maxSessionStats(spark.read.parquet(outDir(root))))
    }
  }

  /** q113: [[SessionCloser]] under the driver's oracle gate — the one
    * streaming query whose OUTPUT is the closed-session set itself, one
    * row per (user, session) with exact integer-µs bounds, emitted
    * exactly once when the event-time watermark passes the session's
    * 30-minute inactivity gap. The DuckDB oracle is the batch
    * gaps-and-islands session list (same family as q97, but per-session
    * rows with the `> gap` rule this sessionizer and q20 share), so
    * timer-driven emission must reproduce batch sessionization
    * bit-for-bit.
    *
    * Harness: the events table is staged as two TIME-RANGED slices
    * ([[stageTimeSlices]]: batch order = time order, so nothing is ever
    * below the 10-minute watermark and the oracle comparison stays
    * exact), then one far-future sentinel on a
    * reserved key whose arrival advances the final watermark past every
    * real session's `last + gap` — the timers fire, the last open
    * sessions close, and the sentinel's own (still-open) session is the
    * only state left unemitted. At 100 TB this shape needs no sentinel:
    * the feed never ends, and each session's row costs O(1) state from
    * watermark horizon, not O(stream). transformWithState requires the
    * RocksDB store; pinned and restored as in q112.
    */
  def closedSessions(
      spark: SparkSession,
      dir: String,
      gapUs: Long = 1800L * 1000000L,
  ): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "sess", rocksDb = true) { root =>
      val src = root.resolve("src")
      val hi = stageTimeSlices(spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"user_id", usExpr(tsLong).as("us")), src)
      val delayUs = 600L * 1000000L
      implicit val outEnc = Encoders.product[ClosedSession]
      val closed = spark.readStream
        .schema("user_id LONG, us LONG")
        .option("maxFilesPerTrigger", "1") // one time-slice per microbatch
        .parquet(src.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"user_id", $"us")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new SessionCloser(gapUs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      // two data batches (cross-batch open sessions, early timers), then
      // the sentinel: watermark → hi + gap + 2 s > every real expiry, the
      // remaining timers fire (no-data batch)
      StreamRun(closed.toDF(), OutputMode.Update,
        steps = Seq(() => Seq((-1L, hi + gapUs + delayUs + 2000000L))
          .toDF("user_id", "us")
          .coalesce(1).write.mode("append").parquet(src.toString)),
        result = () => spark.read.parquet(outDir(root))
          .filter($"user_id" >= 0L) // sentinel key never emits; belt-and-braces
          .orderBy($"user_id", $"s_start_us"))
    }
  }

  /** One buffered not-yet-matured event for [[PatternProcessor]]. */
  final case class PendRow(us: Long, eid: Long, tpe: String)

  /** STREAMING MATCH_RECOGNIZE — `ops.Sequence`'s declarative pattern
    * NFA run INCREMENTALLY over an event stream. The batch operator
    * needs each key's rows in total (us, event_id) order; a stream
    * delivers them watermark-bounded, so the processor separates
    * ADMISSION from MATURITY: arriving rows (late ones below the
    * eviction watermark dropped, SessionCloser's rule) buffer in a
    * per-key ListState, and only rows with `us < watermark` — which no
    * future admissible row can precede — are released, sorted, and fed
    * through the SAME [[graft.ops.Sequence.Nfa]] stepper the batch fold
    * uses (one implementation, zero semantic drift; its O(1) state
    * rides in a ValueState between microbatches). One event-time timer
    * per key, armed at the earliest buffered row's maturity, releases
    * buffered rows when the watermark passes them even if the key goes
    * quiet.
    *
    * State per key = NFA state (O(pattern)) + the buffer, bounded by
    * the watermark horizon — the same bound every stream-stream join
    * here carries; matches emit exactly once, as soon as the watermark
    * proves them. Anchored patterns (last step `once`) complete purely
    * row-driven, so the streaming output equals the batch operator on
    * the same data — which is how q222 is gated: the driver's DuckDB
    * oracle for q222 IS q216's closed form, and Round12Spec
    * additionally pins stream ≡ batch row-for-row.
    */
  final class PatternProcessor(pattern: graft.ops.Sequence.Pattern)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), graft.ops.Sequence.SeqMatch] {
    import graft.ops.Sequence
    @transient private var buf:
        org.apache.spark.sql.streaming.ListState[PendRow] = _
    @transient private var mSt:
        org.apache.spark.sql.streaming.ListState[Sequence.MatcherSnap] = _
    @transient private var armed:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var matcher: Sequence.KeyMatcher = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[PendRow]("buf",
        Encoders.product[PendRow],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      mSt = getHandle.getListState[Sequence.MatcherSnap]("matcher",
        Encoders.product[Sequence.MatcherSnap],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      matcher = Sequence.matcherFor(pattern)
    }
    /** Re-point the key's single timer at the earlier of the next
      * buffered row's maturity and the matcher's next attempt deadline
      * (idempotent, SessionCloser's arming discipline) — the deadline
      * half is what lets a quiet key's timed-out attempt release the
      * held match behind it.
      */
    private def rearm(pending: Seq[PendRow]): Unit = {
      val prev = if (armed.exists()) armed.get() else -1L
      val cands: Seq[Long] =
        pending.map(_.us) ++ matcher.nextDeadlineUs.toSeq
      val wake: Option[Long] =
        if (cands.isEmpty) None else Some(cands.min)
      wake match {
        case None =>
          if (prev >= 0L) { getHandle.deleteTimer(prev); armed.clear() }
        case Some(us) =>
          val next = us / 1000L + 1L
          if (next != prev) {
            if (prev >= 0L) getHandle.deleteTimer(prev)
            getHandle.registerTimer(next)
            armed.update(next)
          }
      }
    }
    private def release(
        user: Long,
        wmUs: Long,
        incoming: Seq[PendRow],
    ): Iterator[Sequence.SeqMatch] = {
      val all =
        (if (buf.exists()) buf.get().toSeq else Nil) ++ incoming
      val (mature, pending) = all.partition(_.us < wmUs)
      matcher.restoreRows(
        if (mSt.exists()) mSt.get().toSeq else Nil)
      val out = (mature
        .sortBy(r => (r.us, r.eid))
        .flatMap(r => matcher.step(r.us, r.eid, r.tpe, 0L)) ++
        // time then advances to the watermark even if no row said so:
        // decided attempts resolve, blocked held matches commit
        matcher.onTime(wmUs))
        .map(m =>
          Sequence.SeqMatch(user, m.startUs, m.endUs, m.nRows, m.nPlus))
      val snaps = matcher.snapshotRows
      mSt.clear()
      if (snaps.nonEmpty) mSt.put(snaps.toArray)
      buf.clear()
      if (pending.nonEmpty) buf.put(pending.toArray)
      rearm(pending)
      out.iterator
    }
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[Sequence.SeqMatch] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      // drop below the EVICTION watermark (the q113-pinned rule): a row
      // the maturity sweep has already sealed past must not fold
      val incoming = rows
        .map(r => PendRow(r._2, r._3, r._4))
        .filter(_.us >= wmUs)
        .toSeq
      release(user, wmUs, incoming)
    }
    override def handleExpiredTimer(
        user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo,
    ): Iterator[Sequence.SeqMatch] = {
      armed.clear() // the fired registration is consumed
      release(user, tv.getCurrentWatermarkInMs() * 1000L, Nil)
    }
  }

  /** q222: [[PatternProcessor]] under the driver's oracle gate, running
    * q216's pattern (`view click+ purchase WITHIN 24h`) — the oracle is
    * LITERALLY q216's SQL, so streaming sequence matching is
    * hash-verified against the batch closed form. Harness = q113's:
    * two time-ranged slices so batch order is time order, then a
    * far-future sentinel advances the watermark past every real row's
    * maturity; the final timers release the tail of each key's buffer.
    */
  def streamPatternMatch(
      spark: SparkSession,
      dir: String,
      patternOpt: Option[graft.ops.Sequence.Pattern] = None,
      plusAlias: String = "n_clicks",
  ): DataFrame = {
    import spark.implicits._
    import graft.ops.Sequence
    val pattern = patternOpt.getOrElse(Sequence.Pattern(
      Seq(Sequence.Step("view", oneOrMore = false),
        Sequence.Step("click", oneOrMore = true),
        Sequence.Step("purchase", oneOrMore = false)),
      withinUs = 24L * 3600L * 1000000L))
    // Streaming completion is driven by rows and by watermark time. An
    // UN-timed pattern ending in a greedy variable step completes only
    // via finish(), which streaming never calls — a trailing match held
    // at end-of-data would silently drop relative to batch matchPattern.
    // Decline that shape explicitly (mirror of matchPatternRows' rule).
    require(
      pattern.withinUs != Sequence.Unbounded ||
        (pattern.steps.last.minRep >= 1 && pattern.steps.last.maxRep == 1),
      "streamPatternMatch needs a row-driven completion: either a " +
        "WITHIN time bound (watermark-driven deadlines decide trailing " +
        "greedy steps) or a mandatory single-row final step; an " +
        "un-timed trailing variable step would hold matches forever")
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "match", rocksDb = true) { root =>
      val src = root.resolve("src")
      val hi = stageTimeSlices(spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"user_id", usExpr(tsLong).as("us"), $"event_id",
          $"event_type"), src)
      implicit val outEnc = Encoders.product[Sequence.SeqMatch]
      val matches = spark.readStream
        .schema("user_id LONG, us LONG, event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"user_id", $"us", $"event_id", $"event_type")
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new PatternProcessor(pattern),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      // sentinel: watermark → past every real row's maturity AND, for a
      // timed pattern, past the last possible attempt deadline (anchor +
      // within), so the final timers resolve every held match
      StreamRun(matches.toDF(), OutputMode.Update,
        steps = Seq(() => Seq((-1L,
          hi + (if (pattern.withinUs != Sequence.Unbounded)
            pattern.withinUs
          else 0L) + 1200L * 1000000L + 2000000L,
          -1L, "none"))
          .toDF("user_id", "us", "event_id", "event_type")
          .coalesce(1).write.mode("append").parquet(src.toString)),
        result = () => spark.read.parquet(outDir(root))
          .filter($"user_id" >= 0L)
          .select($"user_id", $"start_us", $"end_us",
            $"n_plus".as(plusAlias))
          .orderBy($"user_id", $"start_us"))
    }
  }

  /** STREAMING CUSUM (q224) — q218's changepoint detector as a LIVE
    * monitor: per-type hourly cents buckets accumulate in a MapState
    * and, once the event-time watermark proves an hour complete
    * (watermark ≥ hour end — no admissible future row can land in it),
    * the matured hours release IN HOUR ORDER into the SAME
    * [[graft.ops.Events.CusumStepper]] the batch fold uses (the
    * q222/Nfa shared-stepper discipline; its eight-long state rides a
    * ValueState). The hourly aggregation thus lives INSIDE the keyed
    * processor — one stateful operator, not a window-agg →
    * stateful-fold chain — with PatternProcessor's maturity gating
    * applied to hour buckets instead of rows. One event-time timer per
    * key releases the tail when a type goes quiet; state per key =
    * 8 longs + the immature buckets (bounded by watermark horizon /
    * 1 h). The emitted running summaries are per-column monotone, so
    * the final state is a read-side MAX rollup (q112's device) and the
    * DuckDB oracle is LITERALLY q218's recursive CTE — a streaming
    * changepoint monitor hash-verified against batch changepoint
    * detection.
    */
  final class CusumProcessor(burnIn: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Long), graft.ops.Events.CusumState] {
    import graft.ops.Events.{CusumSnap, CusumState, CusumStepper}
    @transient private var buckets:
        org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var snap:
        org.apache.spark.sql.streaming.ValueState[CusumSnap] = _
    @transient private var armed:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var stepper: CusumStepper = _
    private val hourUs = 3600L * 1000000L
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buckets = getHandle.getMapState[Long, Long]("buckets",
        Encoders.scalaLong, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      snap = getHandle.getValueState[CusumSnap]("snap",
        Encoders.product[CusumSnap],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      stepper = new CusumStepper(burnIn)
    }
    private def rearm(immatureHours: Seq[Long]): Unit = {
      val prev = if (armed.exists()) armed.get() else -1L
      if (immatureHours.isEmpty) {
        if (prev >= 0L) { getHandle.deleteTimer(prev); armed.clear() }
      } else {
        val next = (immatureHours.min + 1L) * hourUs / 1000L + 1L
        if (next != prev) {
          if (prev >= 0L) getHandle.deleteTimer(prev)
          getHandle.registerTimer(next)
          armed.update(next)
        }
      }
    }
    private def release(tpe: String, wmUs: Long)
        : Iterator[CusumState] = {
      val all: Seq[(Long, Long)] = buckets.iterator().toSeq
      val (mature, immature) =
        all.partition { case (h, _) => (h + 1L) * hourUs <= wmUs }
      if (snap.exists()) stepper.restore(snap.get()) else stepper.reset()
      mature.sortBy(_._1).foreach { case (h, x) =>
        stepper.advance(h, x)
        buckets.removeKey(h)
      }
      snap.update(stepper.snapshot)
      rearm(immature.map(_._1))
      Iterator.single(stepper.result(tpe))
    }
    override def handleInputRows(
        tpe: String,
        rows: Iterator[(String, Long, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[CusumState] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      // batch-local pre-aggregation, then one store merge per bucket;
      // rows below the eviction watermark drop (the q113-pinned rule)
      rows.filter(_._2 >= wmUs)
        .foldLeft(Map.empty[Long, Long]) { (m, r) =>
          val h = r._2 / hourUs
          m.updated(h, m.getOrElse(h, 0L) + r._3)
        }
        .foreach { case (h, x) =>
          val cur = if (buckets.containsKey(h)) buckets.getValue(h) else 0L
          buckets.updateValue(h, cur + x)
        }
      release(tpe, wmUs)
    }
    override def handleExpiredTimer(
        tpe: String,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo,
    ): Iterator[CusumState] = {
      armed.clear()
      release(tpe, tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** q224: [[CusumProcessor]] under the driver's oracle gate — the
    * oracle is LITERALLY q218's recursive-CTE SQL. Harness = q113's
    * time-ranged staging + a far-future sentinel; the running
    * summaries' per-column monotonicity makes the final state a MAX
    * rollup per type (q112's device).
    */
  def streamCusum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "cusum", rocksDb = true) { root =>
      val src = root.resolve("src")
      val hi = stageTimeSlices(spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_type", usExpr(tsLong).as("us"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents")), src)
      implicit val outEnc =
        Encoders.product[graft.ops.Events.CusumState]
      val states = spark.readStream
        .schema("event_type STRING, us LONG, cents LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"event_type", $"us", $"cents")
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new CusumProcessor(48),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      StreamRun(states.toDF(), OutputMode.Update,
        // sentinel: watermark → past every real hour's end
        steps = Seq(() => Seq(("__sentinel__", hi + 4800L * 1000000L, 0L))
          .toDF("event_type", "us", "cents")
          .coalesce(1).write.mode("append").parquet(src.toString)),
        result = () => spark.read.parquet(outDir(root))
          .filter($"event_type" =!= "__sentinel__")
          .groupBy($"event_type")
          .agg(
            max($"n_hours").as("n_hours"),
            max($"burnin_mean_cents").as("burnin_mean_cents"),
            max($"max_cusum_up").as("max_cusum_up"),
            max($"max_cusum_dn").as("max_cusum_dn"),
            max($"alarm_up_hour").as("alarm_up_hour"),
            max($"alarm_dn_hour").as("alarm_dn_hour"),
          )
          .orderBy($"event_type"))
    }
  }

  /** Stateful streaming sessionization: per-user inactivity-gap session
    * counting with explicit state (`flatMapGroupsWithState`) — emits the
    * running per-user totals each microbatch (Update mode).
    *
    * Within a microbatch events are sorted by time; across microbatches
    * the state carries the last-seen timestamp, so ordered replay yields
    * exactly the batch semantics of `Events.q20`. A production deployment
    * would add `withWatermark` + EventTimeTimeout to bound state and emit
    * closed sessions; the counting logic is identical.
    */
  def sessionize(
      events: Dataset[(Long, Long)], // (user_id, epoch micros)
      gapUs: Long,
  ): Dataset[SessionCount] = {
    implicit val stateEnc  = Encoders.product[SessionState]
    implicit val outEnc    = Encoders.product[SessionCount]
    implicit val longEnc   = Encoders.scalaLong
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long)],
         state: GroupState[SessionState]) =>
          val sorted = it.map(_._2).toArray
          java.util.Arrays.sort(sorted)
          var st = state.getOption.getOrElse(
            SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { us =>
            val newSession =
              st.lastUs == Long.MinValue || us - st.lastUs > gapUs
            st = SessionState(
              us,
              st.sessions + (if (newSession) 1 else 0),
              st.events + 1,
            )
          }
          state.update(st)
          Iterator.single(SessionCount(user, st.sessions, st.events))
      }
  }

  // ---- q207: streaming KMV distinct sketch -------------------------

  final case class KmvRow(
      event_type: String, ver: Long, n_sketch: Long, theta: String)

  /** Per-type KMV sketch maintained as streaming state: the k smallest
    * DISTINCT md5(user_id) hashes seen so far, kept as one
    * ValueState[String] (k sorted 32-char hashes ≈ 2 KB — rewritten
    * whole on update, which is correct for a state that IS one sorted
    * set; contrast MapState q118 where sub-keys update independently).
    * KMV union is associative, commutative and idempotent (same user →
    * same hash → set-dedup), so the final state is independent of
    * microbatch boundaries AND of replay — the exactly-once story
    * needs no dedup bookkeeping at all. Emissions carry a per-key
    * version: θ is NOT monotone (it grows while the sketch fills,
    * shrinks afterwards), so the reduction picks the LAST emission
    * via max_by(ver), not a min/max.
    */
  final class KmvSketchProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), KmvRow] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[String] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[String]("kmv", Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        tpe: String,
        rows: Iterator[(String, String)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[KmvRow] = {
      val incoming = rows.map(_._2).toSet
      val prior =
        if (st.exists()) st.get().split('|') else Array.empty[String]
      // ver rides in front of the hash list so one state cell carries
      // both; hashes are fixed-width hex so '|' never collides
      val (ver, prev) =
        if (prior.isEmpty) (0L, Array.empty[String])
        else (prior.head.toLong, prior.tail)
      val merged = (prev.toSet ++ incoming).toSeq.sorted.take(k)
      st.update((ver + 1) +: merged mkString "|")
      Iterator.single(
        KmvRow(tpe, ver + 1, merged.size.toLong, merged.last))
    }
  }

  // ---- q303: streaming A-ES weighted reservoir -----------------------

  final case class AesRow(g: Int, ver: Long, doc_id: Long)

  /** Streaming Efraimidis–Spirakis weighted reservoir: the global
    * top-k documents by the deterministic A-ES priority ln(u)/w, kept
    * as ONE ValueState (ver head + `bits:doc` entries — priorities
    * stored as IEEE bit patterns so the state round-trips exactly).
    * Top-k under a total order (priority DESC, doc ASC) is
    * associative, commutative and idempotent (same doc → same md5
    * priority → dedup by doc), so the final reservoir is independent
    * of microbatch boundaries AND of replay — q207's KMV argument,
    * lifted to weighted sampling. Each batch re-emits the membership
    * under a bumped version; the read side keeps the last version.
    */
  final class AesReservoirProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, (Long, Double), AesRow] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[String] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[String]("aes", Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        g: Int,
        rows: Iterator[(Long, Double)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[AesRow] = {
      val prior =
        if (st.exists()) st.get().split('|') else Array.empty[String]
      val (ver, prev) =
        if (prior.isEmpty) (0L, Array.empty[(Long, Double)])
        else (prior.head.toLong, prior.tail.map { e =>
          val Array(bits, doc) = e.split(':')
          (doc.toLong, java.lang.Double.longBitsToDouble(bits.toLong))
        })
      val merged = (prev ++ rows).groupBy(_._1).map(_._2.head).toSeq
        .sortBy { case (doc, es) => (-es, doc) }
        .take(k)
      st.update(((ver + 1) +: merged.map { case (doc, es) =>
        s"${java.lang.Double.doubleToLongBits(es)}:$doc"
      }).mkString("|"))
      merged.iterator.map { case (doc, _) => AesRow(g, ver + 1, doc) }
    }
  }

  /** q303: [[AesReservoirProcessor]] run to completion under the
    * driver's oracle gate — the LIVE twin of batch q146 (the one
    * sampler the streaming family lacked, r14 verdict #5): sample 200
    * docs with probability ∝ token mass from an unbounded stream, with
    * the priority expression SHARED with q146 so the paths cannot
    * drift, and the oracle is q146's SQL VERBATIM. Scale shape: a
    * stateless per-partition top-k (`mapPartitions`, the streaming
    * analogue of batch TakeOrderedAndProject's per-task heap) bounds
    * what reaches the single reservoir key to k rows per partition per
    * batch — the funnel carries k·partitions rows, never the corpus.
    * Output drops the float priority; membership is the contract.
    */
  def streamWeightedSample(
      spark: SparkSession, dir: String, nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    val k = 200
    runStream(spark, "aes", rocksDb = true) { root =>
      val srcDir = root.resolve("src").toString
      // stage (doc_id, es_key) as nFiles part files → genuine cross-batch
      // microbatches; the wide text column never enters the stream
      graft.Tables.documents(spark, dir)
        .select($"doc_id",
          graft.ops.Corpus.aesKey($"doc_id",
            size(split($"text", " ")).cast("long")).as("es"))
        .repartition(nFiles)
        .write.parquet(srcDir)
      implicit val outEnc = Encoders.product[AesRow]
      val updates = spark.readStream
        .schema("doc_id LONG, es DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .as[(Long, Double)]
        .mapPartitions { it =>
          // bounded local pre-reduce: only k candidates per partition
          // per batch can enter the global reservoir. A true k-heap —
          // NOT a partition sort — so memory is O(k) however large the
          // partition (the per-task heap TakeOrderedAndProject keeps)
          val ord = Ordering.by[(Long, Double), (Double, Long)] {
            case (doc, es) => (-es, doc)
          }
          val heap = new scala.collection.mutable.PriorityQueue[
            (Long, Double)]()(ord) // max-heap on (-es, doc) = worst kept
          it.foreach { r =>
            if (heap.size < k) heap.enqueue(r)
            else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
          }
          heap.iterator
        }
        .groupByKey(_ => 0)
        .transformWithState(new AesReservoirProcessor(k),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update, { () =>
        val emitted = spark.read.parquet(outDir(root))
        val last = emitted.agg(max($"ver")).as[Long].collect().head
        val docs = graft.Tables.documents(spark, dir)
          .select($"doc_id", $"lang",
            size(split($"text", " ")).cast("long").as("n_tokens"))
        emitted.filter($"ver" === last).select($"doc_id")
          .join(docs, "doc_id")
          .select($"doc_id", $"lang", $"n_tokens")
          .orderBy($"doc_id")
      })
    }
  }

  /** q207: [[KmvSketchProcessor]] run to completion under the driver's
    * oracle gate — the streaming counterpart of the batch KMV family
    * (q191 intersection, q206 time-partition merge): the sketch lives
    * in keyed state, each microbatch folds its distinct hashes in, and
    * because the sketch is a deterministic function of the DATA (not
    * of batching), DuckDB replays the exact final θ and estimate from
    * the batch table. The distinct-user estimate uses q191's nibble
    * decode; sketches smaller than k report their exact size.
    */
  def kmvStreamSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 64
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "kmv", rocksDb = true) { root =>
      implicit val outEnc = Encoders.product[KmvRow]
      val updates = spark.readStream
        .schema(eventsSchema(tsLong))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .select($"event_type",
          md5($"user_id".cast("string").cast("binary")).as("h"))
        .as[(String, String)]
        .groupByKey(_._1)
        .transformWithState(new KmvSketchProcessor(k),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      val uInt = (1 to 8)
        .map(i =>
          s"(instr('0123456789abcdef', substr(theta, $i, 1)) - 1) * " +
            s"${math.pow(16, 8 - i).toLong}L")
        .mkString(" + ")
      StreamRun(updates.toDF(), OutputMode.Update, () =>
        spark.read.parquet(outDir(root))
          .groupBy($"event_type")
          .agg(
            expr("max_by(n_sketch, ver)").as("n_sketch"),
            expr("max_by(theta, ver)").as("theta"),
          )
          .withColumn("est",
            when($"n_sketch" < k, $"n_sketch".cast("double"))
              .otherwise(lit((k - 1).toDouble) * 4294967296.0 /
                expr(uInt)))
          .select($"event_type", $"n_sketch", $"theta",
            round($"est", 2).as("est_distinct"))
          .orderBy($"event_type"))
    }
  }

  /** q362: STREAMING INCREMENTAL ANALYZE — q359's partial-stats store
    * maintained BY A STREAM: the projected table is staged as three
    * part files, each microbatch (`maxFilesPerTrigger = 1`) appends
    * its own per-column additive partials + KMV sketch rows via
    * `foreachBatch` (the nightly stats delta running as a live job —
    * no state store: the PARQUET STORE is the state, exactly like the
    * batch verb), and the read side merges through the SAME
    * [[graft.ops.Analyze.mergedStatsReadout]] spelling as q359. The
    * result is batching-independent — every partial is a pure function
    * of its batch's rows and the merge is associative/commutative
    * (counts add, min/max compose, the KMV union keeps the k smallest
    * distinct hashes) — so the oracle recomputes everything from the
    * raw table in one scan: merge ≡ recompute, under streaming
    * delivery.
    */
  def streamAnalyze(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-batch partials are |cols|-row rollups of one staged file —
    // 4-way shuffles beat 32 near-empty state files per microbatch
    runStream(spark, "ana", statePartitions = Some(4)) { root =>
      val srcDir = root.resolve("src").toString
      val storeDir = root.resolve("store").toString
      // exact-canonical-string column subset (integer keys, a double with
      // the proven sub-1e7 print parity, a flag, a timestamp — q346's
      // parity classes)
      graft.Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_partkey", $"l_quantity",
          $"l_returnflag", $"l_shipdate")
        .repartition(3)
        .write.parquet(srcDir)
      val stream = spark.readStream
        .schema(spark.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      StreamRun(stream, OutputMode.Append,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          // maxFilesPerTrigger=1 means every microbatch is ONE staged
          // file = ONE scan split, so the per-row-heavy melt + partial
          // aggregation upstream of the first exchange ran on one core
          // while the rest idled (r21, guide §2.5 — the q301/q243
          // single-split shape inside a microbatch; per-job timing showed
          // the two single-task ~0.8 s map jobs per batch). The layout is
          // known here by construction, so spread explicitly by a
          // high-cardinality key; the partials/sketch are partition-
          // independent (additive aggs + k-smallest-distinct), so the
          // merge ≡ recompute oracle is unchanged.
          val spread = batch.toDF().repartition(
            batch.sparkSession.sparkContext.defaultParallelism,
            col("l_orderkey"))
          val (p, sk) = graft.ops.Analyze.colPartials(spread, id.toInt)
          // foreachBatch is at-least-once (fanoutInstall's contract): a
          // replayed microbatch must REPLACE its own prior write, never
          // append a double-count that breaks the merge≡recompute
          // oracle. Each epoch owns a batch=<id> partition directory it
          // overwrites idempotently; partition discovery on the read
          // side restores the batch column the blind-append used to
          // carry in-file.
          p.drop("batch").coalesce(1).write.mode("overwrite")
            .parquet(s"$storeDir/partials/batch=$id")
          sk.drop("batch").coalesce(1).write.mode("overwrite")
            .parquet(s"$storeDir/sketch/batch=$id")
        },
        result = () => graft.ops.Analyze.mergedStatsReadout(spark, storeDir))
    }
  }

  // ---- q256: streaming anytime-valid mSPRT monitor ------------------

  final case class MsprtDayOut(
      event_type: String, day_id: Long, na: Long, nb: Long,
      ln_lambda: Double, ln_lambda_max: Double)
  final case class MsprtDayAgg(dna: Long, dsa: Long, dqa: Long,
      dnb: Long, dsb: Long, dqb: Long)
  final case class MsprtCum(na: Long, sa: Long, qa: Long, nb: Long,
      sb: Long, qb: Long, lnMax: Double, started: Boolean)

  /** q251's anytime-valid monitor actually running as a stream — the
    * deployment the operator exists FOR (its whole point is that the
    * experimenter checks continuously): per type, immature day buckets
    * of the six arm sufficient statistics accumulate in a MapState;
    * when the watermark proves a day complete it folds IN DAY ORDER
    * into the cumulative ValueState, lnΛ is computed from the
    * cumulatives in EXACTLY q251's operand order (all
    * correctly-rounded primitives, so the stream's doubles are
    * bit-identical to the batch plan's), and the running max rides the
    * state — the q224 CusumProcessor shape with days for hours. One
    * event-time timer per key releases quiet types. Emissions carry
    * RAW doubles; the read-side applies the same `round(…, 6)`
    * expressions as q251, so the oracle is LITERALLY q251's SQL.
    */
  final class MsprtProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Boolean, Long), MsprtDayOut] {
    @transient private var buckets:
        org.apache.spark.sql.streaming.MapState[Long, MsprtDayAgg] = _
    @transient private var cum:
        org.apache.spark.sql.streaming.ValueState[MsprtCum] = _
    @transient private var armed:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    private val dayUs = 86400000000L
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buckets = getHandle.getMapState[Long, MsprtDayAgg]("buckets",
        Encoders.scalaLong, Encoders.product[MsprtDayAgg],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      cum = getHandle.getValueState[MsprtCum]("cum",
        Encoders.product[MsprtCum],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    private def rearm(immatureDays: Seq[Long]): Unit = {
      val prev = if (armed.exists()) armed.get() else -1L
      if (immatureDays.isEmpty) {
        if (prev >= 0L) { getHandle.deleteTimer(prev); armed.clear() }
      } else {
        val next = (immatureDays.min + 1L) * dayUs / 1000L + 1L
        if (next != prev) {
          if (prev >= 0L) getHandle.deleteTimer(prev)
          getHandle.registerTimer(next)
          armed.update(next)
        }
      }
    }
    private def release(tpe: String, wmUs: Long)
        : Iterator[MsprtDayOut] = {
      val all = buckets.iterator().toSeq
      val (mature, immature) =
        all.partition { case (d, _) => (d + 1L) * dayUs <= wmUs }
      var c =
        if (cum.exists()) cum.get()
        else MsprtCum(0L, 0L, 0L, 0L, 0L, 0L, 0.0, started = false)
      val out = mature.sortBy(_._1).map { case (d, x) =>
        buckets.removeKey(d)
        c = MsprtCum(c.na + x.dna, c.sa + x.dsa, c.qa + x.dqa,
          c.nb + x.dnb, c.sb + x.dsb, c.qb + x.dqb, c.lnMax, c.started)
        // q251's operand order, verbatim: every op is a correctly-
        // rounded IEEE primitive, so stream ≡ batch bit-for-bit
        val ma = c.sa.toDouble / c.na.toDouble
        val mb = c.sb.toDouble / c.nb.toDouble
        val s2 = (c.qa.toDouble - c.na.toDouble * ma * ma +
          c.qb.toDouble - c.nb.toDouble * mb * mb) /
          (c.na + c.nb - 2).toDouble
        val vv = s2 * (1.0 / c.na.toDouble + 1.0 / c.nb.toDouble)
        val th = ma - mb
        val lnl = 0.5 * math.log(vv / (vv + 2500.0)) +
          (th * th) * 2500.0 / (2.0 * vv * (vv + 2500.0))
        val mx = if (c.started) math.max(c.lnMax, lnl) else lnl
        c = c.copy(lnMax = mx, started = true)
        MsprtDayOut(tpe, d, c.na, c.nb, lnl, mx)
      }
      cum.update(c)
      rearm(immature.map(_._1))
      out.iterator
    }
    override def handleInputRows(
        tpe: String,
        rows: Iterator[(String, Long, Boolean, Long)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[MsprtDayOut] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      rows.filter(_._2 >= wmUs)
        .foldLeft(Map.empty[Long, MsprtDayAgg]) { (m, r) =>
          val d = r._2 / dayUs
          val a = m.getOrElse(d, MsprtDayAgg(0L, 0L, 0L, 0L, 0L, 0L))
          val c = r._4
          m.updated(d,
            if (r._3)
              a.copy(dna = a.dna + 1L, dsa = a.dsa + c,
                dqa = a.dqa + c * c)
            else
              a.copy(dnb = a.dnb + 1L, dsb = a.dsb + c,
                dqb = a.dqb + c * c))
        }
        .foreach { case (d, add) =>
          val cur =
            if (buckets.containsKey(d)) buckets.getValue(d)
            else MsprtDayAgg(0L, 0L, 0L, 0L, 0L, 0L)
          buckets.updateValue(d, MsprtDayAgg(
            cur.dna + add.dna, cur.dsa + add.dsa, cur.dqa + add.dqa,
            cur.dnb + add.dnb, cur.dsb + add.dsb, cur.dqb + add.dqb))
        }
      release(tpe, wmUs)
    }
    override def handleExpiredTimer(
        tpe: String,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo,
    ): Iterator[MsprtDayOut] = {
      armed.clear()
      release(tpe, tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** q256: [[MsprtProcessor]] under the driver's oracle gate — the
    * oracle is LITERALLY q251's SQL. Harness = q224's: time-ranged
    * staging files, then a far-future sentinel advances the watermark
    * past every real day's end so the final timers drain each type's
    * tail. Each (type, day) is folded and emitted exactly once
    * (buckets are removed as they mature); the read-back applies
    * q251's own rounding/threshold expressions to the raw doubles.
    */
  def streamMsprt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "msprt", rocksDb = true) { root =>
      val src = root.resolve("src")
      val hi = stageTimeSlices(spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_type", usExpr(tsLong).as("us"),
          ($"user_id" % 2 === 0L).as("arm_a"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents")), src)
      implicit val outEnc = Encoders.product[MsprtDayOut]
      val days = spark.readStream
        .schema("event_type STRING, us LONG, arm_a BOOLEAN, cents LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"event_type", $"us", $"arm_a", $"cents")
        .as[(String, Long, Boolean, Long)]
        .groupByKey(_._1)
        .transformWithState(new MsprtProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      StreamRun(days.toDF(), OutputMode.Update,
        // sentinel: watermark → past the last real day's end
        steps = Seq(() =>
          Seq(("__sentinel__", hi + 2L * 86400000000L, true, 0L))
            .toDF("event_type", "us", "arm_a", "cents")
            .coalesce(1).write.mode("append").parquet(src.toString)),
        result = () => spark.read.parquet(outDir(root))
          .filter($"event_type" =!= "__sentinel__")
          // each (type, day) is emitted once; the aggregate is replay
          // armor only (identical values if a batch ever re-runs)
          .groupBy($"event_type", $"day_id")
          .agg(max($"na").as("na"), max($"nb").as("nb"),
            max($"ln_lambda").as("lnl"),
            max($"ln_lambda_max").as("lnlm"))
          .select($"event_type", $"day_id", $"na", $"nb",
            round($"lnl", 6).as("ln_lambda"),
            round($"lnlm", 6).as("ln_lambda_max"),
            ($"lnlm" >= 2.995732273553991).as("crossed"))
          .orderBy($"event_type", $"day_id"))
    }
  }

  // ---- q267: streaming episode mining (q261 live) --------------------

  final case class EpRow(
      user_id: Long, len: Long, episode: String, delta: Long)

  /** Per-user ONLINE episode counting — q261's contiguous n-gram
    * enumeration as streaming state, the "learn sequences lifelong and
    * online" deployment the reference generates FOR: immature events
    * buffer in a MapState keyed by µs timestamp (same-µs ties pack
    * into the bucket value and unpack sorted by event_id, so the fold
    * order is exactly q261's (ts, event_id) total order); once the
    * watermark proves a timestamp complete (us < wm — no admissible
    * future row), matured events release IN ORDER through the gram
    * fold, which needs only the TAIL of the last maxLen−1 types as
    * carry state — episodes spanning a maturation (or microbatch)
    * boundary are counted exactly once, because the tail is the only
    * context a CONTIGUOUS episode can reach back into. Emissions are
    * per-batch (episode, delta) increments; the read side sums deltas
    * and applies q261's relative support floor, so the final table is
    * row-for-row the batch miner's and the DuckDB oracle is LITERALLY
    * q261's SQL. One event-time timer per key (the q224 rearm device)
    * releases the tail when a user goes quiet; state per key = the
    * ≤ (maxLen−1)-type tail + immature buckets bounded by the
    * watermark horizon.
    */
  final class EpisodeMineProcessor(minLen: Int, maxLen: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), EpRow] {
    @transient private var buckets:
        org.apache.spark.sql.streaming.MapState[Long, String] = _
    @transient private var tail:
        org.apache.spark.sql.streaming.ValueState[String] = _
    @transient private var armed:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buckets = getHandle.getMapState[Long, String]("buckets",
        Encoders.scalaLong, Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      tail = getHandle.getValueState[String]("tail", Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    private def rearm(immatureUs: Seq[Long]): Unit = {
      val prev = if (armed.exists()) armed.get() else -1L
      if (immatureUs.isEmpty) {
        if (prev >= 0L) { getHandle.deleteTimer(prev); armed.clear() }
      } else {
        val next = immatureUs.min / 1000L + 1L
        if (next != prev) {
          if (prev >= 0L) getHandle.deleteTimer(prev)
          getHandle.registerTimer(next)
          armed.update(next)
        }
      }
    }
    private def release(user: Long, wmUs: Long): Iterator[EpRow] = {
      val all: Seq[(Long, String)] = buckets.iterator().toSeq
      val (mature, immature) = all.partition { case (us, _) =>
        us < wmUs
      }
      var tl: Vector[String] =
        if (tail.exists() && tail.get().nonEmpty)
          tail.get().split('\u0001').toVector
        else Vector.empty
      val deltas = scala.collection.mutable.HashMap.empty[String, Long]
      mature.sortBy(_._1).foreach { case (us, packed) =>
        packed.split('\u0001').toSeq
          .map { kv =>
            val i = kv.indexOf(':')
            (kv.substring(0, i).toLong, kv.substring(i + 1))
          }
          .sortBy(_._1)
          .foreach { case (_, t) =>
            val ctx = tl :+ t
            (minLen to maxLen).foreach { l =>
              if (ctx.length >= l) {
                val ep = s"$l\u0002" +
                  ctx.takeRight(l).mkString(">")
                deltas.update(ep, deltas.getOrElse(ep, 0L) + 1L)
              }
            }
            tl = (tl :+ t).takeRight(maxLen - 1)
          }
        buckets.removeKey(us)
      }
      tail.update(tl.mkString("\u0001"))
      rearm(immature.map(_._1))
      deltas.iterator.map { case (k, d) =>
        val i = k.indexOf('\u0002')
        EpRow(user, k.substring(0, i).toLong, k.substring(i + 1), d)
      }
    }
    override def handleInputRows(
        user: Long,
        rows: Iterator[(Long, Long, Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[EpRow] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      // rows below the eviction watermark drop (the q113-pinned rule)
      rows.filter(_._2 >= wmUs).foreach { case (_, us, eid, t) =>
        val entry = s"$eid:$t"
        val cur =
          if (buckets.containsKey(us)) buckets.getValue(us) + "\u0001"
          else ""
        buckets.updateValue(us, cur + entry)
      }
      release(user, wmUs)
    }
    override def handleExpiredTimer(
        user: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo,
    ): Iterator[EpRow] = {
      armed.clear()
      release(user, tv.getCurrentWatermarkInMs() * 1000L)
    }
  }

  /** q267: [[EpisodeMineProcessor]] under the driver's oracle gate —
    * the oracle is LITERALLY q261's SQL. Harness = q224's time-ranged
    * staging + far-future sentinel; emissions are increments, so the
    * read side is one SUM per (len, episode) plus q261's relative
    * support floor against the static corpus count.
    */
  def streamEpisodeMining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deltas = episodeDeltas(spark, dir, minLen = 2, maxLen = 4)
    val n = graft.Tables.events(spark, dir).count()
    deltas
      .groupBy($"len", $"episode")
      .agg(sum($"delta").as("support"),
        countDistinct($"user_id").as("n_keys"))
      .where($"support" >= lit(n * 5L / 1000L))
      .orderBy($"len", $"support".desc, $"episode")
  }

  /** q281: STREAMING MARKOV SURPRISAL — q279 live. The event-cardinality
    * stage (per-user in-order bigram counting) runs as streaming state:
    * [[EpisodeMineProcessor]] at minLen = maxLen = 2 IS the bigram
    * extractor (its carry tail is exactly the lag-1 context), so the
    * matured increments reduce to the same (user, prev, cur, k) frame
    * the batch lag window produces, and the model fit + scoring reuse
    * `Sequence.surprisalFromBigrams` verbatim — the oracle is LITERALLY
    * q279's SQL, and Round14Spec pins stream ≡ batch row-for-row. The
    * model stage is domain-sized (≤|V|² cells), so "online" deployment
    * = keep the bigram counts hot in state and refit the broadcast
    * model at any cadence for free.
    */
  def streamMarkovSurprisal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deltas = episodeDeltas(spark, dir, minLen = 2, maxLen = 2)
    val big = deltas
      .groupBy($"user_id", $"episode").agg(sum($"delta").as("k"))
      .withColumn("prev", expr("split_part(episode, '>', 1)"))
      .withColumn("cur", expr("split_part(episode, '>', 2)"))
      .select($"user_id", $"prev", $"cur", $"k")
    graft.ops.Sequence.surprisalFromBigrams(
      big, graft.Tables.events(spark, dir))
  }

  /** The q267/q281 shared harness: stage the events table as a file
    * stream in watermark order, run [[EpisodeMineProcessor]] over it,
    * and return the summed per-user (len, episode, delta) increments
    * (sentinel rows dropped).
    */
  private def episodeDeltas(
      spark: SparkSession, dir: String,
      minLen: Int, maxLen: Int): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "epmine", rocksDb = true) { root =>
      val src = root.resolve("src")
      val hi = stageTimeSlices(spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"user_id", usExpr(tsLong).as("us"), $"event_id",
          $"event_type"), src)
      implicit val outEnc = Encoders.product[EpRow]
      val updates = spark.readStream
        .schema("user_id LONG, us LONG, event_id LONG, " +
          "event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"user_id", $"us", $"event_id", $"event_type")
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(new EpisodeMineProcessor(minLen, maxLen),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update,
        // sentinel: watermark → past every real event's timestamp
        steps = Seq(() => Seq((-1L, hi + 4800L * 1000000L, 0L, "__sentinel__"))
          .toDF("user_id", "us", "event_id", "event_type")
          .coalesce(1).write.mode("append").parquet(src.toString)),
        result = () =>
          spark.read.parquet(outDir(root)).filter($"user_id" =!= -1L))
    }
  }

  // ---- q249: streaming Misra-Gries heavy hitters --------------------

  final case class MgRow(bucket: Long, ver: Long, toks: String)

  /** Per-bucket MISRA-GRIES summary as streaming state: the ≤ k
    * counters live in one ValueState (rewritten whole per batch — the
    * state IS one bounded counter table, q207's rationale) and each
    * microbatch folds its tokens in through the SAME
    * [[graft.ops.Scale.misraGriesFold]] transition the batch q238 uses,
    * so the incremental run is literally MG over the concatenated
    * arrival order — and MG's guarantee is order-independent, so the
    * candidate SET depends on batching but the guarantee (any token
    * with bucket count > N_b/(k+1) holds a counter) does not.
    */
  final class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), MgRow] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[String] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[String]("mg", Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        bucket: Long,
        rows: Iterator[(Long, String)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[MgRow] = {
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      val prior =
        if (st.exists()) st.get().split('\u0001') else Array.empty[String]
      val ver = if (prior.isEmpty) 0L else prior.head.toLong
      prior.drop(1).foreach { kv =>
        val i = kv.lastIndexOf('\u0002')
        counters.update(kv.substring(0, i), kv.substring(i + 1).toLong)
      }
      graft.ops.Scale.misraGriesFold(counters, rows.map(_._2), k)
      val body = counters.toSeq.sorted
        .map { case (t, c) => s"$t\u0002$c" }
      st.update(((ver + 1).toString +: body).mkString("\u0001"))
      Iterator.single(
        MgRow(bucket, ver + 1, counters.keysIterator.toSeq.sorted
          .mkString("\u0001")))
    }
  }

  /** q249: STREAMING GUARANTEED HEAVY HITTERS — q238's two-pass shape
    * with pass 1 running LIVE: document batches arrive as a stream,
    * tokens shard by hash into 16 bucket keys, and each bucket's
    * [[MisraGriesProcessor]] maintains its ≤ k counters across
    * microbatches (the monitoring deployment: candidates are always
    * current, no corpus rescan per refresh). A token with global count
    * > N/(k+1) concentrates its entire count in ONE bucket (hash
    * sharding never splits a token), so it exceeds N_b/(k+1) there and
    * survives — the union of final bucket candidates is a superset of
    * every global heavy hitter regardless of batching. Pass 2 recounts
    * exactly and applies the defining threshold, making the output
    * batching-independent: the DuckDB oracle is LITERALLY q238's SQL,
    * so streaming sketch maintenance is hash-verified against the
    * batch closed form. The final candidate set is the max_by(ver)
    * emission per bucket (q207's reduction); state per bucket = ≤ k
    * (token, count) pairs, emission ≤ k tokens per bucket per batch.
    */
  def streamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 200
    val buckets = 16
    runStream(spark, "mg", rocksDb = true) { root =>
      val srcDir = root.resolve("src").toString
      // stage the corpus as 4 arrival batches so the state genuinely
      // carries counters across microbatches (q222's harness device)
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", $"text")
        .repartitionByRange(4, $"doc_id")
        .write.parquet(srcDir)
      implicit val outEnc = Encoders.product[MgRow]
      val updates = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(explode(split($"text", " ")).as("tok"))
        .where(length($"tok") > 0)
        .select(pmod(xxhash64($"tok"), lit(buckets)).as("bucket"),
          $"tok")
        .as[(Long, String)]
        .groupByKey(_._1)
        .transformWithState(new MisraGriesProcessor(k),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update, { () =>
        val cands = spark.read.parquet(outDir(root))
          .groupBy($"bucket")
          .agg(expr("max_by(toks, ver)").as("toks"))
          .select(explode(split($"toks", "\u0001")).as("tok"))
          .where(length($"tok") > 0)
          .distinct()
        // pass 2: exact recount of the bounded candidate set — q238's
        // closing move, applied to the stream's final state
        val tokens = graft.Tables.documents(spark, dir)
          .select(explode(split($"text", " ")).as("tok"))
          .where(length($"tok") > 0)
        val total = tokens.count()
        tokens
          .join(broadcast(cands), Seq("tok"))
          .groupBy($"tok")
          .agg(count(lit(1)).as("cnt"))
          .where($"cnt" * (k + 1) > total)
          .orderBy($"cnt".desc, $"tok")
      })
    }
  }

  // ---- q276: streaming PSI drift monitor ----------------------------

  final case class PsiRow(
      event_type: String, ver: Long, bin: Long, a: Long, b: Long)

  /** Per-type LIVE drift histogram — q246's (bin → ref/cur counts)
    * sufficient statistic maintained in a MapState across microbatches
    * (bins are the data-derived map keys, the q118 dynamic-sub-key
    * shape; batch-local pre-aggregation keeps state ops to one per
    * TOUCHED bin, not one per row). Counts are order-free integer sums,
    * so no watermark or maturation is needed (contrast q256, whose
    * fold is order-sensitive): each batch emits versioned SNAPSHOTS of
    * the changed bins — never a float — and the read side reassembles
    * the latest histogram and runs it through `Eval.psiFromBinned`,
    * the IDENTICAL Spark plan the batch query uses. The monitor is
    * always current (PSI is one domain-sized computation away at any
    * instant), and its final table is bit-for-bit the batch q246.
    */
  final class PsiHistProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, Long, Boolean), PsiRow] {
    @transient private var hist:
        org.apache.spark.sql.streaming.MapState[Long, (Long, Long)] = _
    @transient private var ver:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      hist = getHandle.getMapState[Long, (Long, Long)]("hist",
        Encoders.scalaLong, Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      ver = getHandle.getValueState[Long]("ver", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long, Boolean)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[PsiRow] = {
      val delta = scala.collection.mutable.HashMap
        .empty[Long, (Long, Long)]
      rows.foreach { case (_, bin, ref) =>
        val (da, db) = delta.getOrElse(bin, (0L, 0L))
        delta.update(bin,
          if (ref) (da + 1L, db) else (da, db + 1L))
      }
      val v = (if (ver.exists()) ver.get() else 0L) + 1L
      ver.update(v)
      delta.iterator.map { case (bin, (da, db)) =>
        val (a0, b0) =
          if (hist.containsKey(bin)) hist.getValue(bin) else (0L, 0L)
        val nw = (a0 + da, b0 + db)
        hist.updateValue(bin, nw)
        PsiRow(key, v, bin, nw._1, nw._2)
      }.toVector.iterator
    }
  }

  /** q276: [[PsiHistProcessor]] under the oracle gate — the oracle is
    * LITERALLY q246's SQL, and Round14Spec pins stream ≡ batch
    * row-for-row. Harness: the events table staged as 3 arrival
    * batches so the MapState genuinely accumulates across microbatches;
    * read side = max_by(ver) snapshot per (type, bin) → the shared
    * `psiFromBinned` plan.
    */
  def streamPsi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "psi", rocksDb = true) { root =>
      val srcDir = root.resolve("src").toString
      spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_type", usExpr(tsLong).as("us"),
          expr("CAST(ROUND(value * 100) AS BIGINT) DIV 500").as("bin"))
        .repartitionByRange(3, $"us")
        .write.parquet(srcDir)
      implicit val outEnc = Encoders.product[PsiRow]
      val updates = spark.readStream
        .schema("event_type STRING, us LONG, bin LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select($"event_type", $"bin",
          ($"us" < graft.ops.Eval.psiCutUs).as("ref"))
        .as[(String, Long, Boolean)]
        .groupByKey(_._1)
        .transformWithState(new PsiHistProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update, () =>
        graft.ops.Eval.psiFromBinned(spark.read.parquet(outDir(root))
          .groupBy($"event_type", $"bin")
          .agg(
            expr("max_by(a, ver)").as("a"),
            expr("max_by(b, ver)").as("b"))))
    }
  }

  // ---- q304: time travel over the StoreLog ---------------------------

  /** q304: TIME TRAVEL — the read side the four snapshot chains never
    * had (the r14 verdict's "table as of version k" gap; q164 answers
    * as-of for SCD2 ROWS, not whole table states): run a per-user
    * running aggregate over four DETERMINISTIC microbatches (events
    * bucketed into event_id-range quarters — arrival order must be a pure
    * function of the data or "version k" means nothing cross-engine;
    * staged file mtimes are forced strictly increasing so the file
    * source triggers the buckets in order), commit every batch to a
    * FULL-RETENTION [[StoreLog]], then diff `asOf(v1)` against the
    * latest commit: which users existed at version 1, and how far each
    * has moved since. The oracle replays both table states from the
    * same range buckets — the whole commit history is hash-gated, not
    * just the final state.
    */
  def timeTravelDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "tt") { root =>
      val src = root.resolve("src")
      val raw = spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_id", $"user_id",
          expr("CAST(ROUND(value * 100) AS LONG)").as("cents"))
      // arrival buckets = event_id RANGE quarters (one max + a codegen
      // filter — deterministic like ntile but with NO global sort, so
      // the staging stays scan-shaped at any corpus size)
      val maxId = raw.agg(max($"event_id")).as[Long].collect().head
      val ev = raw.withColumn("bkt",
        expr(s"least(3L, (event_id * 4) DIV ${maxId + 1}L) + 1L"))
      for (k <- 1 to 4)
        stageFile(ev.filter($"bkt" === k).select($"user_id", $"cents"),
          src.resolve(s"b$k.parquet"), k)
      val log = new StoreLog(root.resolve("sink"), "v") // full retention
      val agg = spark.readStream
        .schema("user_id LONG, cents LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"))
      StreamRun(agg, OutputMode.Update,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          val sp = batch.sparkSession
          val merged = log.latestBefore(id)
            .map(p => sp.read.parquet(log.path(p))) match {
            case None       => batch.toDF()
            case Some(prev) => upsertMerge(prev, batch.toDF(), "user_id")
          }
          log.commitTable(id, merged)
        },
        result = { () =>
          val v1 = log.asOf(spark, 1L)
            .getOrElse(sys.error("timeTravelDiff: no commit at or below v1"))
          val now = log.readLatest(spark)
            .getOrElse(sys.error("timeTravelDiff: empty commit log"))
          // keys only ever grow in this aggregate, so v1 ⊆ latest and a
          // left join from the latest state covers the whole diff
          now.as("n").join(v1.as("o"), Seq("user_id"), "left")
            .select($"user_id",
              coalesce($"o.n_events", lit(0L)).as("n_v1"),
              coalesce($"o.sum_cents", lit(0L)).as("cents_v1"),
              $"n.n_events".as("n_now"), $"n.sum_cents".as("cents_now"),
              when($"o.n_events".isNull, "added")
                .when($"o.n_events" =!= $"n.n_events", "grown")
                .otherwise("same").as("status"))
            .orderBy($"user_id")
        })
    }
  }

  /** q291: STREAMING TRIANGLE MAINTENANCE — q290 LIVE, the streaming
    * graph-analytics shape (vertex/edge streams are their own system
    * class; here the graph grows as its source rows arrive), and the
    * lambda handoff done right: the stream RESUMES FROM q290's batch
    * snapshot store ([[graft.ops.Graph.incTriangleStore]] — the
    * pre-[[graft.ops.Graph.incCut]] edge list + census), then the
    * post-cut lines arrive as two time-sliced microbatches and
    * `foreachBatch` maintains an append-only delta chain on top: per
    * tick, the edges its lines introduce (tick×tick pairs plus
    * tick×PRIOR-lines pairs inside the same order, where prior = the
    * base history scan ∪ previously installed ticks — cross-batch
    * pairing is the point: an order's earlier lines arrived earlier),
    * anti-joined against snapshot ∪ installed deltas so Δ is genuinely
    * new, census advanced by [[graft.ops.Graph.triangleDelta]]'s
    * minimal-new-edge charge — the IDENTICAL core q290's batch run
    * uses, so the two paths cannot drift. Ticks install under
    * batchId-keyed atomic moves (a replayed tick re-derives from the
    * same predecessors and overwrites its own attempt — exactly-once
    * state from at-least-once delivery, q107's discipline). The final
    * census must hash-match the batch q143 census over the WHOLE
    * table — the oracle is LITERALLY q143's SQL, the strongest gate a
    * snapshot-handoff + live-maintenance pipeline can face.
    */
  def streamTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (storeEdgesRaw, storeStats) =
      graft.ops.Graph.incTriangleStore(spark, dir)
    // every tick probes the handed-off snapshot (pair derive, edge
    // anti-join, adjacency scoring) — pin the edge list AND its
    // adjacency index in memory for the stream's lifetime (~tens of MB
    // here; on a cluster this is the executor-cached graph every
    // streaming-graph system keeps hot)
    val storeEdges = storeEdgesRaw.cache()
    val snapAdj = graft.ops.Graph
      .adjacency(storeEdges, isNew = false).cache()
    val baseLines = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_shipdate" <
        lit(graft.ops.Graph.incCut).cast("timestamp"))
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
      .cache()
    // NOTE (r18, measured): trimming shuffle partitions to 8 for the
    // tick jobs was tried for the q291 floor and made the harness
    // ~70% SLOWER (15.8–16.8 s vs 9.2 s at 32 partitions, same code
    // otherwise) — the per-tick work is DATA-parallel, not
    // task-overhead-bound: the delta pair derivation and the
    // adjacency-probe scoring at sf0.1 want the cores. The session
    // default stays; the floor's composition is itemized in SCALE.md.
    runStream(spark, "tri", statePartitions = None) { root =>
      val srcDir = root.resolve("src").toString
      // two post-cut time slices (the file source triggers oldest-
      // written-first), so maintenance genuinely crosses a microbatch
      // boundary; the pre-cut history is NOT streamed — it is the
      // snapshot the stream resumes from
      val lines = spark.read.parquet(s"$dir/lineitem.parquet")
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"),
          $"l_shipdate".cast("string").as("sd"))
      val cutS = graft.ops.Graph.incCut.take(10)
      for (
        (lo, hi) <- Seq((cutS, Some("2001-10-01")),
          ("2001-10-01", None))
      ) lines
        .filter($"sd" >= lo &&
          hi.map($"sd" < _).getOrElse(lit(true)))
        .select($"ok", $"pk")
        .coalesce(1)
        .write.mode("append").parquet(srcDir)
      // the graph store is APPEND-ONLY (lines and edges only ever grow),
      // so the commit log holds per-batch DELTAS ([[StoreLog]], full
      // retention) — state at batch id = the union of all installed
      // b<id' ≤ id> commits; a full copy-on-write rewrite (q107's shape,
      // for stores that UPDATE in place) measured 4× slower here because
      // each batch re-wrote the whole growing edge table
      val log = new StoreLog(root.resolve("sink"), "b")
      def readAll(sp: SparkSession, ids: Seq[Long], sub: String,
          orElse: => DataFrame): DataFrame =
        log.readMany(sp, ids, sub).getOrElse(orElse)
      val ticks = spark.readStream
        .schema("ok LONG, pk LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      StreamRun(ticks, OutputMode.Append,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          val sp = batch.sparkSession
          import sp.implicits._
          val b = batch.toDF().distinct().localCheckpoint()
          val prevIds = log.versions().filter(_ < id)
          // prior state = the handed-off batch snapshot ∪ installed ticks
          val prevLines = baseLines.unionByName(
            readAll(sp, prevIds, "lines",
              sp.emptyDataset[(Long, Long)].toDF("ok", "pk")))
          val prevEdges = storeEdges.unionByName(
            readAll(sp, prevIds, "edges",
              sp.emptyDataset[(Long, Long)].toDF("a", "b")))
          // an (order, part) re-observed across ticks re-derives pairs
          // the store already holds — the edge anti-join below removes
          // them, so no line-level dedup pass against the store is needed
          // (the rare duplicate line row only re-offers already-present
          // candidate pairs)
          val bb = b.as("x")
            .join(b.as("y"), $"x.ok" === $"y.ok" && $"x.pk" < $"y.pk")
            .select($"x.pk".as("a"), $"y.pk".as("b"))
          // the tick side is microbatch-sized; broadcast it so the line
          // history is scanned, never shuffled (a checkpointed frame has
          // no size stats, so the planner won't pick the broadcast itself)
          val bp = broadcast(b.as("n"))
            .join(prevLines.as("o"), $"n.ok" === $"o.ok" && $"n.pk" =!= $"o.pk")
            .select(least($"n.pk", $"o.pk").as("a"),
              greatest($"n.pk", $"o.pk").as("b"))
          val delta = bb.unionAll(bp).distinct()
            .join(prevEdges, Seq("a", "b"), "left_anti")
            .localCheckpoint()
          // base index = the CACHED snapshot adjacency, untouched; the
          // small RECENT index covers installed tick edges (old flags)
          // and this tick's delta (new flags) — the two merge per scoring
          // row, never as a table
          val tickEdges = readAll(sp, prevIds, "edges",
            sp.emptyDataset[(Long, Long)].toDF("a", "b"))
          val recent = graft.ops.Graph.adjacencyFlagged(
            tickEdges.select($"a", $"b", lit(false).as("nw"))
              .unionByName(delta.select($"a", $"b", lit(true).as("nw"))))
          val dTri = graft.ops.Graph
            .triangleDeltaOnAdj(snapAdj, recent, delta)
          val dCnt = delta.agg(count(lit(1)).as("d_edges"))
          val census = readAll(sp, prevIds.lastOption.toSeq, "census",
            storeStats.select($"n_edges", $"n_triangles"))
            .crossJoin(dCnt).crossJoin(dTri)
            .select(($"n_edges" + $"d_edges").as("n_edges"),
              ($"n_triangles" + $"d_triangles").as("n_triangles"))
          // delta-only install: a multi-table StoreLog commit (temp dir +
          // ONE atomic move keyed by batch id), so a replayed batch
          // (derived from the same b<prev> set) overwrites its own
          // attempt with identical content
          log.commit(id) { tmp =>
            b.coalesce(4).write.parquet(s"$tmp/lines")
            delta.coalesce(4).write.parquet(s"$tmp/edges")
            census.coalesce(1).write.parquet(s"$tmp/census")
          }
        },
        result = { () =>
          baseLines.unpersist()
          val ids = log.versions()
          require(ids.nonEmpty, "streamTriangles: no sink delta installed")
          val edges = storeEdges.unionByName(readAll(spark, ids, "edges",
            spark.emptyDataset[(Long, Long)].toDF("a", "b")))
          val out = edges.select($"a").unionAll(edges.select($"b"))
            .agg(count_distinct($"a").as("n_nodes"))
            .crossJoin(log.readLatest(spark, "census").get)
            .select($"n_nodes", $"n_edges", $"n_triangles")
            .localCheckpoint()
          snapAdj.unpersist()
          storeEdges.unpersist()
          out
        })
    }
  }

  // ---- q315: streaming embedding fold-in ------------------------------

  final case class FoldState(ver: Long, den: Long, anchors: Long,
      num: Seq[Long])
  final case class FoldRow(center: Long, ver: Long, den: Long,
      anchors: Long, num: Seq[Long])

  /** Keyed accumulator for out-of-vocab fold-in: per new node, the
    * SPPMI-weighted numerator/denominator sums accumulate in ONE
    * ValueState as plain Longs. Integer addition is associative,
    * commutative and replay-safe under the versioned-emission read
    * (last ver wins), so the final state is independent of microbatch
    * boundaries — the q303/KMV argument, applied to fold-in. The
    * truncating DIV happens once at read time, exactly where batch
    * q308 does it, so stream ≡ batch bit-for-bit.
    */
  final class FoldInProcessor(dim: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Seq[Long]), FoldRow] {
    @transient private var st:
        org.apache.spark.sql.streaming.ValueState[FoldState] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[FoldState]("fold",
        Encoders.product[FoldState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        center: Long,
        rows: Iterator[(Long, Long, Seq[Long])],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[FoldRow] = {
      val prev =
        if (st.exists()) st.get()
        else FoldState(0L, 0L, 0L, Seq.fill(dim)(0L))
      var den = prev.den
      var anch = prev.anchors
      val num = prev.num.toArray
      rows.foreach { case (_, w, wev) =>
        den += w; anch += 1
        var i = 0
        while (i < dim) { num(i) += wev(i); i += 1 }
      }
      val next = FoldState(prev.ver + 1, den, anch, num.toSeq)
      st.update(next)
      Iterator.single(FoldRow(center, next.ver, den, anch, num.toSeq))
    }
  }

  /** Core stream: stage the out-of-vocab SPPMI contribution rows
    * `(center, context, w)` as `nFiles` microbatch files, enrich each
    * microbatch with the TRAINED vectors by stream-static broadcast
    * join (the serving join — trained vectors are the static side by
    * construction), accumulate per-center integer sums in keyed state,
    * and read the last version per center back into batch q308's exact
    * flattened shape. Factored from the registered query so Round16Spec
    * can drive planted fixtures through the same code.
    */
  private[graft] def streamFoldInFrom(
      spark: SparkSession,
      trained: DataFrame,
      oovContribs: DataFrame,
      dim: Int,
      nFiles: Int = 4): DataFrame = {
    import spark.implicits._
    runStream(spark, "fold", rocksDb = true) { root =>
      val srcDir = root.resolve("src").toString
      oovContribs.select($"center", $"context", $"w")
        .repartition(nFiles)
        .write.parquet(srcDir)
      val fixed = trained.select($"node".as("context"),
        graft.ops.Graph.microVec($"embedding").as("ev"))
        .localCheckpoint()
      implicit val outEnc = Encoders.product[FoldRow]
      val updates = spark.readStream
        .schema("center LONG, context LONG, w LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .join(broadcast(fixed), "context")
        .select($"center", $"w",
          expr("transform(ev, x -> x * w)").as("wev"))
        .as[(Long, Long, Seq[Long])]
        .groupByKey(_._1)
        .transformWithState(new FoldInProcessor(dim),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      StreamRun(updates.toDF(), OutputMode.Update, { () =>
        // an all-empty stream (no out-of-vocab nodes at this SF) may never
        // materialize the sink — fold-in of nothing is the empty table
        val emitted =
          if (Files.exists(Paths.get(outDir(root))))
            spark.read.parquet(outDir(root))
          else spark.emptyDataset[FoldRow].toDF()
        emitted
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"center").orderBy($"ver".desc)))
          .filter($"rnk" === 1)
          .select($"center".as("node"), $"anchors".as("n_anchors"),
            posexplode(expr("transform(num, x -> x DIV den)"))
              .as(Seq("dim", "value_micro")))
          .select($"node", $"n_anchors", $"dim", $"value_micro")
          .orderBy($"node", $"dim")
          // pin the (node×dim bounded) result in the block manager so
          // the WHOLE fold_<uuid> root can be deleted — repeated
          // bench/verify invocations previously accumulated one sink dir
          // per call (r16 advice)
          .localCheckpoint()
      })
    }
  }

  /** q315: STREAMING EMBEDDING FOLD-IN — the online twin of batch
    * q308 (the "online" half of the reference's lifelong-learning
    * mission, the way q303 twinned batch sampling): new nodes' SPPMI
    * contexts arrive as an unbounded stream, their weighted sums
    * accumulate in keyed state, and the emitted vectors are
    * BIT-IDENTICAL to batch q308's — same staged contribution rows,
    * same integer adds (order-free), same one truncating DIV at the
    * end. No SQL oracle (consumes the eigensolve); Round16Spec asserts
    * stream ≡ batch on the real corpus and on a planted fixture that
    * crosses microbatch boundaries.
    */
  def streamFoldIn(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.ops.Graph.embeddingStore(spark, dir).localCheckpoint()
    // contribution rows come from the SAME derivation batch q308 uses
    // ([[graft.ops.Graph.oovContribs]]) — the paths cannot drift
    val contribs = graft.ops.Graph.oovContribs(
      graft.ops.Graph.skipgramPairs(
        graft.ops.Graph.walkStore(spark, dir)), emb, shift = 5)
    streamFoldInFrom(spark, emb, contribs, dim = 8)
  }

  // ---- q323: live registry cutover -------------------------------------

  /** q323: ZERO-DOWNTIME SERVING CUTOVER — q320 live: a canary probe
    * stream keeps evaluating serving health while the REGISTRY POINTER
    * flips underneath it. The pointer is a 1-row [[StoreLog]] table
    * (the "metadata-pointer swap" the StoreLog doc names as the
    * object-store form of its atomic rename); each canary tick reads
    * the pointer AS OF NOW and serves the q313 probe path from that
    * version's own pre-built IVF store — a cutover or ROLLBACK is one
    * pointer commit, never a rebuild (q320's key property, exercised
    * here with the stream RUNNING). The harness flips v1 → v2 between
    * ticks 0 and 1 and BACK between ticks 1 and 2, so the output's
    * three phases are served by versions 1, 2, 1 — a live rollback.
    * No SQL oracle (consumes the eigensolve); Round17Spec gates that
    * each phase's rows are IDENTICAL to q320's cold-start rows for the
    * version the pointer named — a mid-stream flip serves exactly what
    * a cold start on that version serves, with no gap tick.
    */
  def streamServingCutover(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // deploys stage artifacts BEFORE the pointer moves: both versions'
    // stores exist up front; only the pointer changes mid-stream
    graft.ops.Graph.registryIvfStore(spark, dir, 1L)
    graft.ops.Graph.registryIvfStore(spark, dir, 2L)
    runStream(spark, "cut", statePartitions = None) { root =>
      val srcDir = root.resolve("src").toString
      val pointer = new StoreLog(root.resolve("pointer"), "p")
      val outLog = new StoreLog(root.resolve("out"), "b")
      // pointer swaps go through the CAS commit: a racing maintenance
      // writer (q327's compaction is the scenario) loses the rename and
      // must re-read, never silently clobber a swap it didn't see
      def setPointer(expect: Option[Long], v: Long): Unit =
        require(pointer.commitNext(expect)(tmp => Seq(Tuple1(v)).toDF("v")
            .coalesce(1).write.parquet(tmp.toString)).isDefined,
          s"pointer CAS lost at expected=$expect — concurrent writer")
      def stage(phase: Long): Unit =
        Seq(Tuple1(phase)).toDF("phase").coalesce(1)
          .write.mode("append").parquet(srcDir)
      setPointer(None, 1L)
      stage(0L)
      StreamRun(
        spark.readStream
          .schema("phase LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir),
        OutputMode.Append,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          val sp = batch.sparkSession
          val phases = batch.collect().map(_.getLong(0)).toSeq.distinct.sorted
          if (phases.nonEmpty) {
            // the serving decision each tick: whatever the pointer says NOW
            val v = pointer.readLatest(sp).get.head.getLong(0)
            val served = graft.ops.Graph.registryAnnRecall(sp, dir, v)
              .localCheckpoint()
            val out = phases.map(p => served
              .withColumn("phase", lit(p)).withColumn("version", lit(v)))
              .reduce(_ unionByName _)
            outLog.commit(id)(tmp =>
              out.coalesce(1).write.parquet(tmp.toString))
          }
        },
        steps = Seq(
          () => { setPointer(Some(1L), 2L); stage(1L) }, // CUTOVER, live
          () => { setPointer(Some(2L), 1L); stage(2L) }, // ROLLBACK, live
        ),
        result = () => outLog.readMany(spark, outLog.versions()).get
          .select($"phase", $"version", $"probe_node", $"n_exact",
            $"n_hits", $"recall_pct")
          .orderBy($"phase", $"probe_node")
          .localCheckpoint())
    }
  }

  // ---- q330: streaming state erasure (GDPR tombstones) ------------------

  private[graft] final case class EraseRow(
      user_id: Long, ver: Long, n_events: Long, sum_cents: Long)

  /** Keyed running (n_events, sum_cents) with TOMBSTONE handling: an
    * input row flagged `tomb` resets the key's state to zero IN ORDER
    * — contributions that arrived before the tombstone are forgotten,
    * contributions after it accumulate fresh. One ValueState of two
    * Longs per user; `ver` orders the Update-mode emissions for the
    * read side's max_by snapshot (the PsiHistProcessor device).
    *
    * A tombstone with NO following contributions physically CLEARS the
    * aggregate from the state store (`agg.clear()`, the r17-advice
    * fix) — "the state itself forgets" holds for the RocksDB store the
    * same way it holds for the q326/q329/q331 disk stores, not just
    * for the emitted values. Only the `ver` counter survives (one Long
    * of ordering metadata, zero user content): clearing it too would
    * restart a post-tombstone resurrection at ver=1 and let the read
    * side's max_by(_, ver) snapshot resolve to a PRE-tombstone
    * emission — ver monotonicity is what makes "last update wins"
    * well-defined across an erasure.
    */
  final class EraseStateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Boolean), EraseRow] {
    @transient private var agg:
        org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    @transient private var ver:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(
        outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      agg = getHandle.getValueState[(Long, Long)]("agg",
        Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      ver = getHandle.getValueState[Long]("ver", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Long, Boolean)],
        tv: org.apache.spark.sql.streaming.TimerValues,
    ): Iterator[EraseRow] = {
      var (n, c) = if (agg.exists()) agg.get() else (0L, 0L)
      var tombed = false
      rows.foreach { case (_, cents, tomb) =>
        if (tomb) { n = 0L; c = 0L; tombed = true }
        else { n += 1L; c += cents }
      }
      // tombstone with no following rows: clear the aggregate from the
      // store (physical forget), don't persist a zeroed row
      if (tombed && n == 0L && c == 0L) agg.clear()
      else agg.update((n, c))
      val v = (if (ver.exists()) ver.get() else 0L) + 1L
      ver.update(v)
      Iterator.single(EraseRow(key, v, n, c))
    }
  }

  /** q330: STREAMING STATE ERASURE — the q326/q329 erasure obligation
    * applied to LIVE state: an erasure command (a tombstone batch for
    * user_id % 97 == 13) arrives MID-STREAM between arrival quarters 2
    * and 3, the keyed state for those users is reset in arrival order,
    * and the stream keeps running — post-tombstone contributions
    * accumulate fresh while every other user's state is untouched.
    * Same deterministic arrival device as q304 (event_id-range
    * quarters, mtime-pinned trigger order), so "before the tombstone"
    * is a pure function of the data and the ORACLE can replay the
    * final state in SQL: erased users count only quarters 3–4, others
    * count everything, users whose entire history preceded their
    * tombstone disappear — the driver's green row certifies the
    * forget-then-continue semantics end to end. Scale: state is two
    * Longs per user; the tombstone batch is |erased users| rows; no
    * replay, no rebuild — the q199 cascade for streaming aggregates.
    */
  def streamStateErasure(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsLong = eventsTsIsLong(spark, dir)
    runStream(spark, "gdpr", rocksDb = true) { root =>
      val src = root.resolve("src")
      val raw = spark.read.schema(eventsSchema(tsLong))
        .parquet(s"$dir/events.parquet")
        .select($"event_id", $"user_id",
          expr("CAST(ROUND(value * 100) AS LONG)").as("cents"))
      val maxId = raw.agg(max($"event_id")).as[Long].collect().head
      val ev = raw.withColumn("bkt",
        expr(s"least(3L, (event_id * 4) DIV ${maxId + 1}L) + 1L"))
      def stage(df: DataFrame, seq: Int): Unit =
        stageFile(df, src.resolve(s"b$seq.parquet"), seq)
      def quarter(k: Int) = ev.filter($"bkt" === k)
        .select($"user_id", $"cents", lit(false).as("tomb"))
      stage(quarter(1), 1)
      stage(quarter(2), 2)
      // the erasure command batch: one tombstone per erased user
      stage(ev.where($"user_id" % 97 === 13)
        .select($"user_id").distinct()
        .select($"user_id", lit(0L).as("cents"), lit(true).as("tomb")), 3)
      stage(quarter(3), 4)
      stage(quarter(4), 5)
      implicit val outEnc = Encoders.product[EraseRow]
      val updates = spark.readStream
        .schema("user_id LONG, cents LONG, tomb BOOLEAN")
        .option("maxFilesPerTrigger", "1")
        .parquet(src.toString)
        .as[(Long, Long, Boolean)]
        .groupByKey(_._1)
        .transformWithState(new EraseStateProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
      // snapshot = each user's LAST update; a user fully forgotten
      // (tombstoned with no later events) ends at zero and leaves
      StreamRun(updates.toDF(), OutputMode.Update, () =>
        spark.read.parquet(outDir(root))
          .groupBy($"user_id")
          .agg(expr("max_by(n_events, ver)").as("n_events"),
            expr("max_by(sum_cents, ver)").as("sum_cents"))
          .filter($"n_events" > 0L)
          .orderBy($"user_id")
          .localCheckpoint())
    }
  }

  // ---- q327: live index compaction under serving ------------------------

  /** q327: LIVE COMPACTION — q321's maintenance rewrite run while a
    * serving stream is READING the store, the property that makes the
    * verb safe to schedule in production: compaction writes a NEW
    * store directory and publishes it with q323's metadata-pointer
    * swap (a 1-row [[StoreLog]] commit), so the serving path never
    * observes a half-rewritten store — phase 0 serves the fragmented
    * layout, the rewrite runs with the stream LIVE, phase 1 serves the
    * compacted layout after one pointer commit, and phase 2 ROLLS BACK
    * to the fragmented original (still intact — compaction never
    * mutates its input, so the old store stays serving-valid until a
    * retention vacuum). All three phases are row-identical BM25 top-10
    * because the rewrite preserves every posting bit-exactly; the
    * oracle replays q167's full-corpus BM25 once per phase — a green
    * row certifies both the zero-downtime swap AND the rewrite's
    * bit-exactness from outside the engine. Scale: the rewrite is
    * [[graft.ops.Corpus.compactPartitionedStore]]'s one hash shuffle
    * (right-sized dirs skip), each canary tick reads only the pointer
    * (1 row) plus the store the pointer names.
    */
  def streamLiveCompaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    runStream(spark, "cmp", statePartitions = None) { root =>
      val frag = root.resolve("frag").toString
      val tidy = root.resolve("tidy").toString
      graft.ops.Corpus.fragmentPostingsStore(spark, dir, frag)
      val srcDir = root.resolve("src").toString
      val pointer = new StoreLog(root.resolve("pointer"), "p")
      val outLog = new StoreLog(root.resolve("out"), "b")
      // pointer swaps go through the CAS commit (see q323): compaction
      // and cutover racing on one pointer serialize on the rename
      def setPointer(expect: Option[Long], path: String): Unit =
        require(pointer.commitNext(expect)(tmp =>
            Seq(Tuple1(path)).toDF("path")
              .coalesce(1).write.parquet(tmp.toString)).isDefined,
          s"pointer CAS lost at expected=$expect — concurrent writer")
      def stage(phase: Long): Unit =
        Seq(Tuple1(phase)).toDF("phase").coalesce(1)
          .write.mode("append").parquet(srcDir)
      setPointer(None, frag)
      stage(0L)
      StreamRun(
        spark.readStream
          .schema("phase LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir),
        OutputMode.Append,
        sink = Some { (batch: Dataset[Row], id: Long) =>
          val sp = batch.sparkSession
          val phases = batch.collect().map(_.getLong(0)).toSeq.distinct.sorted
          if (phases.nonEmpty) {
            import sp.implicits._
            // each tick serves from whatever store the pointer names NOW
            val path = pointer.readLatest(sp).get.head.getString(0)
            val served = graft.ops.Corpus.bm25FromPostings(
              sp.read.parquet(path).select($"term", $"doc_id", $"tf"))
              .orderBy($"bm25".desc, $"doc_id")
              .limit(10)
              .localCheckpoint()
            val out = phases.map(p => served.withColumn("phase", lit(p)))
              .reduce(_ unionByName _)
            outLog.commit(id)(tmp =>
              out.coalesce(1).write.parquet(tmp.toString))
          }
        },
        steps = Seq(
          { () =>
            // MAINTENANCE, live: rewrite into a NEW directory, then publish
            val (before, after, _) = graft.ops.Corpus.compactPartitionedStore(
              spark, frag, tidy, "pb", "term", targetBytes = 256L * 1024)
            require(after.files < before.files,
              s"q327: compaction did not collapse files " +
                s"(${before.files} -> ${after.files})")
            setPointer(Some(1L), tidy) // CUTOVER to the compacted store
            stage(1L)
          },
          // ROLLBACK — input store never mutated
          () => { setPointer(Some(2L), frag); stage(2L) },
        ),
        result = () => outLog.readMany(spark, outLog.versions()).get
          .select($"phase", $"doc_id", $"bm25", $"n_qterms")
          .orderBy($"phase", $"bm25".desc, $"doc_id")
          .localCheckpoint())
    }
  }
}
