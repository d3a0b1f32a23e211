package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer metrics of a traced run. Counters are per traced warm pass
  * (summed over the traced passes, divided by their number); rates use the
  * untraced warm passes, which tracing does not slow. A layer the workload
  * bypasses reads 0. */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The highest of the usual percentiles with at least ten samples beyond
    * it, as (percentile, value); the median when there are too few. */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0)
      .find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, percentile(xs, p)))
      .getOrElse((50.0, median(xs)))

  def metrics(spark: SparkSession, tr: Tracer, workload: String,
      runs: Seq[OpRun], passes: Seq[(Int, Boolean, Double)], cpus: Int,
      sessionS: Double, warmS: Double, codegen: Codegen.Delta, data: String,
      genEvents: Long): Map[String, Double] = {
    tr.drain()
    val traced = runs.filter(_.traced)
    val untracedWarm = runs.filter(r => r.pass > 0 && !r.traced)
    val nT = math.max(1, passes.count(_._2)).toDouble
    val keys = traced.map(r => s"${r.pass}/${r.name}").toSet
    val tracedWallMs = passes.filter(_._2).map(_._3).sum
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def perPass(x: Double) = x / nT
    def of(name: String) = traced.filter(_.name == name)
    def meanMs(rs: Seq[OpRun], f: OpRun => Double) =
      if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.size
    def rate(name: String) = {
      val t = meanMs(untracedWarm.filter(_.name == name), _.totalMs)
      if (t > 0) genEvents / (t / 1e3) else 0.0
    }

    // Spans of the traced passes, grouped for the lookups below.
    val spans = tr.synchronized(tr.spans.toList)
    val jobSpans = spans.filter(s => s.kind == "job" && keys(s.key))
    def jobMs(key: String, phase: String) = jobSpans
      .filter(s => s.key == key && s.name.endsWith(" " + phase))
      .map(s => s.endMs - s.startMs).sum
    val tasks = keys.toSeq.flatMap(tr.tasksByKey.get)
    def taskSum(f: TaskAgg => Long) = tasks.map(f).sum.toDouble
    def keyOf(r: OpRun) = s"${r.pass}/${r.name}"

    // session
    m("session.start_s") = sessionS
    m("warm.s") = warmS
    m("cold.wall_s") = passes.filter(_._1 == 0).map(_._3).sum / 1e3

    // stores: built during which op, and how often a store op found it
    val ledger = Stores.ledger.toSeq
    val storeOps = ledger.filter(_("built").asInstanceOf[Int] > 0)
      .map(_("op").asInstanceOf[String]).toSet
    val storeRuns = ledger.filter(l => storeOps(l("op").asInstanceOf[String]))
    m("store.build_s") = ledger.filter(_("built").asInstanceOf[Int] > 0)
      .map(_("s").asInstanceOf[Double]).sum
    m("store.found_frac") =
      if (storeRuns.isEmpty) 0.0
      else storeRuns.count(_("built").asInstanceOf[Int] == 0).toDouble / storeRuns.size
    m("store.disk_mb") = Stores.diskMb()

    // gen
    val block = of("gen.block")
    m("gen.block.prefix_s") = meanMs(block, r => jobMs(keyOf(r), "construct")) / 1e3
    m("gen.block.fill_s") = meanMs(block, _.executeMs) / 1e3
    def cpuPerEvent(rs: Seq[OpRun]) = meanMs(rs, r =>
      tr.tasksByKey.get(keyOf(r)).map(_.cpuNs.toDouble).getOrElse(0.0)) / genEvents
    m("gen.block.cpu_ns_per_event") = cpuPerEvent(block)
    m("gen.exact.cpu_ns_per_event") = cpuPerEvent(of("gen.exact"))
    m("gen.block.tasks") = meanMs(block, r =>
      tr.tasksByKey.get(keyOf(r)).map(_.tasks.toDouble).getOrElse(0.0))
    m("gen.events_per_s") = rate("gen.block")
    m("gen.exact_events_per_s") = rate("gen.exact")

    // sinks
    val sinkFiles = {
      val d = Paths.get("sink", "gen")
      if (!Files.isDirectory(d)) Nil
      else scala.util.Using.resource(Files.list(d))(_.iterator.asScala.toList)
        .filter(_.getFileName.toString.endsWith(".parquet"))
    }
    m("sinks.write_s") = meanMs(of("gen.sink"), _.executeMs) / 1e3
    m("sinks.bytes_per_event") =
      if (workload != "gen_stream") 0.0
      else sinkFiles.map(Files.size(_)).sum.toDouble / genEvents
    m("sinks.files") = sinkFiles.size.toDouble
    m("sinks.events_per_s") = rate("gen.sink")

    // ops
    m("ops.construct_s") = perPass(traced.map(_.constructMs).sum) / 1e3
    m("ops.construct_jobs") = perPass(jobSpans.count(_.name.endsWith(" construct")))
    Main.moduleNames.foreach { mod =>
      m(s"ops.$mod.s") = perPass(traced.filter(_.module == mod).map(_.totalMs).sum) / 1e3
    }
    val (tp, tv) = tail(untracedWarm.map(_.totalMs / 1e3))
    m("op.tail_s") = tv
    m("op.tail_pct") = tp
    m("op.samples") = untracedWarm.size.toDouble

    // catalyst
    val phases = tr.synchronized(tr.planPhases.toList)
    def phaseMs(n: String) = perPass(phases.filter(_._1 == n).map(p => p._3 - p._2).sum)
    m("plan.analysis_ms") = phaseMs("analysis")
    m("plan.optimization_ms") = phaseMs("optimization")
    m("plan.planning_ms") = phaseMs("planning")
    m("codegen.compile_ms") = perPass(codegen.ms)
    m("codegen.compiles") = perPass(codegen.compiles.toDouble)

    // exec
    val cpuMs = taskSum(_.cpuNs) / 1e6
    m("exec.s") = perPass(traced.map(_.executeMs).sum) / 1e3
    m("exec.jobs") = perPass(keys.toSeq.map(k => tr.jobsByKey.getOrElse(k, 0)).sum)
    m("exec.stages") = perPass(keys.toSeq.map(k => tr.stagesByKey.getOrElse(k, 0)).sum)
    m("exec.tasks") = perPass(taskSum(_.tasks))
    m("exec.task_cpu_ms") = perPass(cpuMs)
    m("exec.cpu_util") = if (tracedWallMs > 0) cpuMs / (tracedWallMs * cpus) else 0.0
    m("exec.sched_delay_ms") = perPass(taskSum(_.schedDelayMs))
    m("exec.short_task_frac") =
      if (taskSum(_.tasks) > 0) taskSum(_.shortTasks) / taskSum(_.tasks) else 0.0
    m("exec.shuffle_write_mb") = perPass(taskSum(_.shuffleWrite)) / 1048576
    m("exec.shuffle_read_mb") = perPass(taskSum(_.shuffleRead)) / 1048576
    m("exec.spill_mb") = perPass(taskSum(_.spill)) / 1048576
    m("exec.peak_exec_mem_mb") =
      (if (tasks.isEmpty) 0L else tasks.map(_.peakExecMem).max) / 1048576.0
    m("exec.gc_ms") = perPass(taskSum(_.gcMs))
    m("exec.task_failures") = perPass(taskSum(_.failures))

    // streaming
    val prog = tr.synchronized(tr.progress.toList)
    val batchMs = prog.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    def dur(k: String) = perPass(prog.map(_.durations.getOrElse(k, 0L)).sum.toDouble)
    val opSpans = spans.filter(s => s.kind == "op" && keys(s.key))
    val inBatch = opSpans.map { o =>
      val covered = prog.map { p =>
        val e = p.startMs + p.durations.getOrElse("triggerExecution", 0L)
        math.max(0.0, math.min(e, o.endMs) - math.max(p.startMs, o.startMs))
      }.sum
      (o, covered)
    }.filter(_._2 > 0)
    val streamOps = inBatch.map(_._1.key).toSet
    val streamRuns = traced.filter(r => streamOps(keyOf(r)))
    m("stream.construct_share") =
      if (streamRuns.isEmpty) 0.0
      else streamRuns.map(_.constructMs).sum / streamRuns.map(_.totalMs).sum
    m("stream.queries_started") = perPass(tr.queriesStarted.toDouble)
    m("stream.batches") = perPass(prog.size.toDouble)
    m("stream.batch_p50_ms") = median(batchMs)
    m("stream.batch_tail_ms") = tail(batchMs)._2
    m("stream.add_batch_ms") = dur("addBatch")
    m("stream.query_planning_ms") = dur("queryPlanning")
    m("stream.wal_commit_ms") = dur("walCommit")
    m("stream.commit_offsets_ms") = dur("commitOffsets")
    m("stream.latest_offset_ms") = dur("latestOffset")
    m("stream.outside_batch_ms") =
      perPass(inBatch.map { case (o, c) => (o.endMs - o.startMs) - c }.sum)
    m("stream.input_rows") = perPass(prog.map(_.inputRows).sum.toDouble)
    m("stream.empty_batch_frac") =
      if (prog.isEmpty) 0.0 else prog.count(_.inputRows == 0).toDouble / prog.size
    m("stream.state_rows") = perPass(prog.map(_.stateRows).sum.toDouble)
    m("stream.state_mem_mb") =
      (if (prog.isEmpty) 0L else prog.map(_.stateMemBytes).max) / 1048576.0
    m("stream.state_commit_ms") = perPass(prog.map(_.stateCommitMs).sum.toDouble)
    m("stream.replay_events_per_s") = rate("gen.replay")

    // functions: each custom kernel alone over the documents / embeddings
    val kernels: Map[String, Double] =
      if (workload == "batch_mix") Kernels.nsPerRow(spark, data) else Map.empty
    Kernels.names.foreach(k => m(s"functions.$k.ns_per_row") = kernels.getOrElse(k, 0.0))

    // tracing overhead: traced minus untraced warm pass wall
    val walls = passes.filter(_._1 > 0)
    m("trace.overhead_s") =
      (median(walls.filter(_._2).map(_._3)) - median(walls.filterNot(_._2).map(_._3))) / 1e3
    m.toMap
  }
}

/** Throughput of the custom expressions in `graft.functions`, each applied
  * alone to the documents or embeddings table replicated to a fixed row
  * count, after one untimed run that compiles it. */
object Kernels {
  val names: Seq[String] = Seq("simhash64", "shingle_hashes", "minhash_sig",
    "vec_cosine", "gear_chunks", "lcs_len", "gorilla_encode")

  private val rows = 50000L

  def nsPerRow(spark: SparkSession, data: String): Map[String, Double] = {
    import graft.functions._
    def replicate(df: DataFrame): DataFrame = {
      val n = df.count()
      val k = math.max(1L, (rows + n - 1) / n)
      df.crossJoin(spark.range(k).withColumnRenamed("id", "rep"))
        .limit(rows.toInt).cache()
    }
    val docs = replicate(graft.Tables.documents(spark, data))
    val emb = replicate(graft.Tables.embeddings(spark, data))
    docs.count(); emb.count()
    val words = split(col("text"), " ")
    val exprs: Seq[(String, DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("simhash64", docs, TextHashExprs.simhash64(spark, col("text"))),
      ("shingle_hashes", docs, TextHashExprs.shingleHashes(spark, col("text"), 3)),
      ("minhash_sig", docs, TextHashExprs.minhashSig(spark,
        TextHashExprs.shingleHashes(spark, col("text"), 3), 16)),
      ("vec_cosine", emb, VectorExprs.vecCosine(spark, col("embedding"),
        reverse(col("embedding")))),
      ("gear_chunks", docs, GearChunks.gearChunks(spark, col("text"), 24, 0x3fL, 192)),
      ("lcs_len", docs, LcsExprs.lcsLen(spark, slice(words, 1, 24),
        slice(reverse(words), 1, 24))),
      ("gorilla_encode", emb, Gorilla.encode(spark,
        sequence(lit(0L), lit(63L)),
        transform(col("embedding"), x => x.cast("double")))),
    )
    val out = exprs.map { case (name, df, e) =>
      val q = df.select(e.as("k"))
      q.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      name -> (System.nanoTime() - t0).toDouble / rows
    }.toMap
    docs.unpersist(); emb.unpersist()
    out
  }
}
