package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{Event, GenQueries, Patterns, PatternSpec, Sinks, StreamGen, StreamSpec}
import graft.gen.Rng.IntervalDist

/** What an op execution's result is checked against. */
sealed trait Check
/** The result, written as parquet at `path`, must hash to the pinned
  * digest. `oracle` is the query's DuckDB SQL, for re-pinning. */
final case class DigestCheck(path: String, oracle: String) extends Check
/** A structural check the JVM decides itself. */
final case class Verdict(ok: Boolean, detail: String) extends Check

/** An op after its construct step: the sink write still to time, and the
  * untimed check of the same result. */
trait Staged {
  def execute(): Unit
  /** Checks the result; `phase` names the pass ("cold" or "warm"). */
  def check(phase: String): Check
  /** The cold pass's form of `execute`: drives the op to its full result
    * and checks that result. An op whose check writes or walks the whole
    * result overrides this to do it in one execution. */
  def executeAndCheck(phase: String): Check = { execute(); check(phase) }
  /** Frees what the execution left in the session; runs after any check. */
  def release(): Unit = ()
}

/** One timed call of the workload. `construct` is the layer call that
  * builds the result (a query function, a `StreamGen` call); the staged
  * value's `execute` drives it to its full result. */
final case class Op(name: String, module: String, construct: () => Staged)

final case class OpRun(
    name: String, module: String, pass: Int, traced: Boolean,
    constructMs: Double, executeMs: Double, error: String, stores: Int) {
  def totalMs: Double = constructMs + executeMs
}

/** Entry point of one benchmark process (one workload, one seed).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds T --trace 0|1
  *   --data DIR --pins FILE --out FILE --launch-ms EPOCH_MS
  *
  * `--seconds 0` runs the cold pass alone, with its checks; `pin.py` uses
  * it to re-derive the pinned digests.
  *
  * The working directory is the run's own: stores, stream checkpoints,
  * sinks and the warehouse all land under it.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = Clock.nowMs
    val spark = session(cpus)
    val sessionS = (Clock.nowMs - t0) / 1e3
    try run(spark, a, cpus, sessionS)
    finally spark.stop()
  }

  private def session(cpus: Int): SparkSession = {
    val cwd = Paths.get("").toAbsolutePath
    val s = graft.SessionTuning(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cwd.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cwd.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ workloads

  private val genEvents = 500000L

  /** The reference demo stream (`GenQueries.demoSpec`) with its pattern
    * and stream seeds drawn from the workload seed. */
  def genSpec(seed: Long, n: Long): StreamSpec = {
    val rnd = new scala.util.Random(seed)
    GenQueries.demoSpec(n).copy(
      patterns = Patterns.generate(PatternSpec(
        nPatterns = 8, patternLength = 10, nTypes = 6,
        gapDist = IntervalDist.Uniform, gapLow = 3, gapHigh = 9,
        seed = rnd.nextInt(1 << 30).toLong)),
      seed = rnd.nextInt(1 << 30).toLong)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def genOps(spark: SparkSession, seed: Long): Seq[Op] = {
    val spec = genSpec(seed, genEvents)
    val sinkDir = Paths.get("sink", "gen").toAbsolutePath.toString
    // an op that leaves nothing behind is checked on the generated stream,
    // whose walk in the cold pass is its execution
    def generated(ds: Dataset[Event]): Staged = new Staged {
      def execute(): Unit = noop(ds.toDF())
      def check(phase: String): Check = GenChecks.invariants(ds, spec)
      override def executeAndCheck(phase: String): Check = check(phase)
    }
    Seq(
      Op("gen.block", "gen", () => generated(StreamGen.block(spark, spec))),
      Op("gen.exact", "gen", () => generated(StreamGen.exact(spark, spec))),
      Op("gen.sink", "sinks", () => new Staged {
        private val ds = StreamGen.block(spark, spec)
        def execute(): Unit = Sinks.toParquet(ds, sinkDir)
        def check(phase: String): Check = GenChecks.invariants(
          spark.read.parquet(sinkDir).as(Encoders.product[Event]), spec)
      }),
      Op("gen.replay", "streaming", () => new Staged {
        private val counts = graft.streaming.Streams.windowedTypeCounts(
          graft.streaming.Streams.replayTicks(spark, sinkDir), "3600 seconds")
        private val name = "replay_" + java.util.UUID.randomUUID().toString
          .replace("-", "")
        def execute(): Unit = {
          val q = counts.writeStream.outputMode("complete").format("memory")
            .queryName(name).trigger(Trigger.AvailableNow())
            .option("checkpointLocation",
              Paths.get("chk", name).toAbsolutePath.toString)
            .start()
          q.awaitTermination()
        }
        def check(phase: String): Check = {
          val total = spark.table(name).agg(sum("n")).head().getLong(0)
          Verdict(total == spec.totalEvents,
            s"replayed window counts sum to $total of ${spec.totalEvents}")
        }
        override def release(): Unit = spark.catalog.dropTempView(name)
      }),
    )
  }

  private val modules: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "Relational" -> graft.ops.Relational.all, "Events" -> graft.ops.Events.all,
    "Text" -> graft.ops.Text.all, "Dedup" -> graft.ops.Dedup.all,
    "Vectors" -> graft.ops.Vectors.all, "Multimodal" -> graft.ops.Multimodal.all,
    "Corpus" -> graft.ops.Corpus.all, "Graph" -> graft.ops.Graph.all,
    "Sources" -> graft.ops.Sources.all, "Scale" -> graft.ops.Scale.all,
    "Stats" -> graft.ops.Stats.all, "Sequence" -> graft.ops.Sequence.all,
    "Eval" -> graft.ops.Eval.all, "Erasure" -> graft.ops.Erasure.all,
    "Analyze" -> graft.ops.Analyze.all)

  val moduleNames: Seq[String] = modules.map(_._1)

  private def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }
      .getOrElse("missing")

  /** Registry queries by name, through `SparkEntry.queries`. A pinned name
    * the registry no longer has becomes an op that fails. */
  private def registryOps(spark: SparkSession, data: String,
      names: Seq[String]): Seq[Op] = {
    val reg = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    names.map { n =>
      Op(n, moduleOf(n), () => {
        val fn = reg.getOrElse(n,
          throw new NoSuchElementException(s"$n is not in the registry"))
        val df = fn(spark, data)
        new Staged {
          def execute(): Unit = noop(df)
          def check(phase: String): Check = {
            val out = Paths.get("results", s"$n-$phase").toAbsolutePath.toString
            df.write.mode("overwrite").parquet(out)
            DigestCheck(out, oracle.getOrElse(n, null))
          }
          // the cold execution writes the result the check digests
          override def executeAndCheck(phase: String): Check = check(phase)
        }
      })
    }
  }

  /** The pinned names of one workload, in the order the seed draws. */
  private def pinned(pins: String, workload: String, seed: Long): Seq[String] = {
    val names = Files.readAllLines(Paths.get(pins)).asScala.toSeq
      .map(_.trim).filter(l => l.startsWith(workload + " "))
      .map(_.split("\\s+")(1))
    new scala.util.Random(seed).shuffle(names)
  }

  // ------------------------------------------------------------ the run

  private def run(spark: SparkSession, a: Map[String, String], cpus: Int,
      sessionS: Double): Unit = {
    val workload = a("--workload")
    val seed = a("--seed").toLong
    val seconds = a("--seconds").toDouble
    val traced = a.getOrElse("--trace", "0") == "1"
    val data = a.getOrElse("--data", "")
    val launchMs = a("--launch-ms").toDouble
    val out = Paths.get(a("--out"))
    val tracer = new Tracer(spark, traced)

    val w0 = Clock.nowMs
    warm(spark, workload, data)
    val warmS = (Clock.nowMs - w0) / 1e3
    val ops = workload match {
      case "gen_stream" => genOps(spark, seed)
      case "batch_mix" | "stream_mix" =>
        registryOps(spark, data, pinned(a("--pins"), workload, seed))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Pass 0 is cold (first use of each plan, lazy store builds) and part
    // of set-up; each of its ops is checked as it runs. Warm passes then
    // repeat until their op time reaches `seconds`, at least `minWarm`
    // times, so a median over passes outlasts one pass slowed by the host.
    // The last warm pass is checked too, after it ends: warm calls take
    // other code paths (a store found instead of built). A traced run
    // alternates untraced and traced warm passes, so the tracing overhead
    // is measured inside one process. No check runs inside a timed warm
    // pass.
    val runs = ArrayBuffer.empty[OpRun]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
    val checks = ArrayBuffer.empty[(String, String, Check)]
    var lastPass = Seq.empty[(OpRun, Staged)]
    var setupS = 0.0
    var warmMs = 0.0
    var pass = 0
    var codegenTraced = Codegen.Delta()
    def warmPasses(t: Boolean) = passWall.count(p => p._1 > 0 && p._2 == t)
    val minWarm = if (seconds <= 0) 0 else if (traced) 2
      else if (workload == "stream_mix") 5 else 3
    while (pass == 0 || (seconds > 0 && (warmMs < seconds * 1e3 ||
      warmPasses(false) < minWarm || (traced && warmPasses(true) < minWarm)))) {
      for ((_, staged) <- lastPass if staged != null) staged.release()
      val tracedPass = traced && pass > 0 && warmPasses(true) < warmPasses(false)
      tracer.record(tracedPass)
      val cg = Codegen.snapshot()
      var passMs = 0.0
      lastPass = tracer.span("pass", s"pass $pass") {
        ops.map { op =>
          val (r, staged, cold) = runOp(tracer, op, pass, tracedPass)
          runs += r
          passMs += r.totalMs
          if (pass == 0) {
            checks += ((op.name, "cold",
              if (r.error != null) Verdict(ok = false, r.error) else cold))
            if (staged != null) staged.release()
          }
          (r, staged)
        }
      }
      if (tracedPass) codegenTraced = codegenTraced + Codegen.snapshot().minus(cg)
      tracer.record(false)
      passWall += ((pass, tracedPass, passMs))
      if (pass == 0) {
        // set-up ends where the first timed op starts: JVM, session,
        // warm-up, and the cold pass with its store builds and checks
        setupS = (Clock.nowMs - launchMs) / 1e3
        lastPass = Nil
      } else warmMs += passMs
      pass += 1
    }
    for ((r, staged) <- lastPass) {
      val warmCheck =
        if (r.error != null) Verdict(ok = false, r.error)
        else try staged.check("warm")
        catch { case x: Throwable => Verdict(ok = false, s"check threw: $x") }
      checks += ((r.name, "warm", warmCheck))
      if (staged != null) staged.release()
    }

    val layers =
      if (!traced) Map.empty[String, Double]
      else Layers.metrics(spark, tracer, workload, runs.toSeq, passWall.toSeq,
        cpus, sessionS, warmS, codegenTraced, data, genEvents)
    if (traced) tracer.write(Paths.get("spans.jsonl"))
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    val checkJson = checks.map {
      case (n, ph, DigestCheck(p, sql)) =>
        Map("name" -> n, "phase" -> ph, "digest_path" -> p, "oracle" -> sql)
      case (n, ph, Verdict(ok, d)) =>
        Map("name" -> n, "phase" -> ph, "ok" -> ok, "detail" -> d)
    }
    Files.writeString(out, Json.obj(Seq(
      "workload" -> workload,
      "seed" -> seed,
      "cpus" -> cpus,
      "setup_s" -> setupS,
      "session_start_s" -> sessionS,
      "warm_s" -> warmS,
      "peak_rss_mb" -> rss,
      "op_tail" -> {
        val warmOps = runs.filter(r => r.pass > 0 && !r.traced).map(_.totalMs / 1e3)
        val (p, v) = Layers.tail(warmOps.toSeq)
        Map("pct" -> p, "s" -> v, "n" -> warmOps.size)
      },
      "passes" -> passWall.map { case (p, t, ms) =>
        Map("pass" -> p, "traced" -> t, "wall_s" -> ms / 1e3) },
      "ops" -> runs.map(r => Map("name" -> r.name, "module" -> r.module,
        "pass" -> r.pass, "traced" -> r.traced, "s" -> r.totalMs / 1e3,
        "construct_s" -> r.constructMs / 1e3, "error" -> r.error,
        "stores_built" -> r.stores)),
      "checks" -> checkJson,
      "layers" -> layers,
      "stores" -> Stores.ledger,
    )))
  }

  /** Session warm-up: one small job through the layer the workload starts
    * from, so the first timed op does not pay for first-job start-up. */
  private def warm(spark: SparkSession, workload: String, data: String): Unit =
    workload match {
      case "gen_stream" =>
        noop(StreamGen.block(spark, GenQueries.demoSpec(2000L)).toDF())
      case _ =>
        graft.Tables.ensureNanosAsLong(spark)
        noop(graft.Tables.lineitem(spark, data).limit(1000))
    }

  /** Runs one op, timed; returns its record, the staged value (null if the
    * construct step threw), which the caller releases, and in pass 0 the
    * check of its result. */
  private def runOp(tracer: Tracer, op: Op, pass: Int,
      traced: Boolean): (OpRun, Staged, Check) = {
    val before = Stores.markers()
    var c = 0.0
    var e = 0.0
    var err: String = null
    var staged: Staged = null
    var check: Check = null
    tracer.span("op", op.name, s"$pass/${op.name}") {
      val t0 = System.nanoTime()
      try {
        staged = tracer.span("construct", op.name)(op.construct())
        val t1 = System.nanoTime()
        c = (t1 - t0) / 1e6
        tracer.span("execute", op.name) {
          if (pass == 0) check = staged.executeAndCheck("cold")
          else staged.execute()
        }
        e = (System.nanoTime() - t1) / 1e6
      } catch {
        case x: Throwable =>
          if (c == 0.0) c = (System.nanoTime() - t0) / 1e6
          else e = (System.nanoTime() - t0) / 1e6 - c
          err = s"${x.getClass.getSimpleName}: ${x.getMessage}".take(300)
      }
    }
    val built = Stores.markers() -- before
    Stores.note(op.name, built, c + e)
    (OpRun(op.name, op.module, pass, traced, c, e, err, built.size), staged, check)
  }
}
/** Structural invariants of a generated stream (FIXTURES.md §A.1): exactly
  * N events, an exact random share, `ts` never decreasing along `seq`, and
  * every type in `[0, nTypes)`. */
object GenChecks {
  /** (firstSeq, lastSeq, firstTs, lastTs, rows, randoms, minType, maxType,
    * ordered) of one run of consecutive `seq` values. */
  type Seg = (Long, Long, Long, Long, Long, Long, Int, Int, Boolean)

  def invariants(ds: Dataset[Event], spec: StreamSpec): Verdict = {
    val segs: Array[Seg] = ds.rdd.mapPartitions { it =>
      val out = ArrayBuffer.empty[Seg]
      var cur: Seg = null
      it.foreach { e =>
        val r = if (e.is_pattern) 0L else 1L
        if (cur != null && e.seq == cur._2 + 1)
          cur = (cur._1, e.seq, cur._3, e.ts, cur._5 + 1, cur._6 + r,
            math.min(cur._7, e.event_type), math.max(cur._8, e.event_type),
            cur._9 && e.ts >= cur._4)
        else {
          if (cur != null) out += cur
          cur = (e.seq, e.seq, e.ts, e.ts, 1L, r, e.event_type, e.event_type, true)
        }
      }
      if (cur != null) out += cur
      out.iterator
    }.collect().sortBy(_._1)
    val n = segs.map(_._5).sum
    val randoms = segs.map(_._6).sum
    val want = math.rint(spec.totalEvents * spec.randomRatio).toLong
    val contiguous = segs.headOption.forall(_._1 == 0L) &&
      segs.sliding(2).forall {
        case Array(x, y) => y._1 == x._2 + 1 && y._3 >= x._4
        case _ => true
      }
    val monotone = contiguous && segs.forall(_._9)
    val typesOk = segs.forall(s => s._7 >= 0 && s._8 < spec.nTypes)
    Verdict(n == spec.totalEvents && randoms == want && monotone && typesOk,
      s"events $n/${spec.totalEvents}, random $randoms/$want, " +
        s"monotone $monotone, types in range $typesOk")
  }
}

/** Store ledger: a store counts as built by the op during which its
  * `_GRAFT_STORE_COMPLETE` marker (or bucketed catalog table) appeared. */
object Stores {
  val ledger = ArrayBuffer.empty[Map[String, Any]]

  def markers(): Set[String] = {
    def dirs(p: Path): Seq[Path] =
      if (!Files.isDirectory(p)) Nil
      else scala.util.Using.resource(Files.list(p))(_.iterator.asScala.toList)
        .filter(Files.isDirectory(_))
    val target = Paths.get("target")
    val marked = dirs(target).flatMap(dirs)
      .filter(d => Files.exists(d.resolve("_GRAFT_STORE_COMPLETE")))
    val tables = dirs(Paths.get("spark-warehouse"))
      .filter(_.getFileName.toString.startsWith("graft_bk_"))
    (marked ++ tables).map(_.toString).toSet
  }

  def note(op: String, built: Set[String], ms: Double): Unit =
    ledger += Map("op" -> op, "built" -> built.size, "s" -> ms / 1e3)

  def diskMb(): Double =
    markers().toSeq.map(p => du(Paths.get(p))).sum / 1048576.0

  private def du(p: Path): Long =
    scala.util.Using.resource(Files.walk(p))(_.iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum)
}

/** Whole-stage codegen compile counters (Spark's `CodegenMetrics`). The
  * time is the sum of the compile-time histogram's retained samples, which
  * is every compile while a run has fewer than 1028. */
object Codegen {
  final case class Delta(compiles: Long = 0, ms: Double = 0) {
    def +(o: Delta): Delta = Delta(compiles + o.compiles, ms + o.ms)
  }
  final case class Snap(count: Long, sumMs: Double) {
    def minus(o: Snap): Delta = Delta(count - o.count, sumMs - o.sumMs)
  }
  def snapshot(): Snap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Snap(h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
}
