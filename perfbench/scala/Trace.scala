package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the event times Spark's listeners report. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `key` names the op execution (`<pass>/<op>`) that
  * caused it; `parent` is the enclosing span of the benchmark's own tree,
  * -1 for Spark-side spans, whose parent the report derives from `key`
  * and time containment. */
final case class Span(
    id: Int, parent: Int, kind: String, name: String, key: String,
    startMs: Double, endMs: Double)

final case class TaskAgg(
    var tasks: Long = 0, var shortTasks: Long = 0, var failures: Long = 0,
    var cpuNs: Long = 0, var schedDelayMs: Long = 0, var gcMs: Long = 0,
    var shuffleWrite: Long = 0, var shuffleRead: Long = 0, var spill: Long = 0,
    var peakExecMem: Long = 0)

final case class Progress(
    startMs: Double, durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateMemBytes: Long, stateCommitMs: Long)

/** Span recorder plus the Spark, SQL and streaming listeners of a traced
  * run. Everything stays in memory until [[write]]; with `enabled = false`
  * nothing is registered and [[span]] only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var key = ""
  private var on = false

  // keyed by op execution; filled on the listener bus thread
  val jobs = mutable.Map.empty[Int, (String, String, Double)] // id -> key, phase, start
  val stageJob = mutable.Map.empty[Int, Int]
  val tasksByKey = mutable.Map.empty[String, TaskAgg]
  val jobsByKey = mutable.Map.empty[String, Int]
  val stagesByKey = mutable.Map.empty[String, Int]
  val progress = ArrayBuffer.empty[Progress]
  val planPhases = ArrayBuffer.empty[(String, Double, Double)]
  var queriesStarted = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val k = p.flatMap(x => Option(x.getProperty("perfbench.key"))).getOrElse("")
      val ph = p.flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("")
      if (k.nonEmpty) {
        jobs(e.jobId) = (k, ph, e.time.toDouble)
        jobsByKey(k) = jobsByKey.getOrElse(k, 0) + 1
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { case (k, ph, t0) =>
        spans += Span(-1, -1, "job", s"job ${e.jobId} $ph", k, t0, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        for (j <- stageJob.get(si.stageId); (k, _, _) <- jobs.get(j);
             t0 <- si.submissionTime; t1 <- si.completionTime) {
          stagesByKey(k) = stagesByKey.getOrElse(k, 0) + 1
          spans += Span(-1, -1, "stage", s"stage ${si.stageId}", k,
            t0.toDouble, t1.toDouble)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); (k, _, _) <- jobs.get(j)) {
        val a = tasksByKey.getOrElseUpdate(k, TaskAgg())
        val i = e.taskInfo
        a.tasks += 1
        if (i.duration < 20) a.shortTasks += 1
        if (e.reason != Success) a.failures += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { queriesStarted += 1 }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        val st = p.stateOperators
        progress += Progress(
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          st.map(_.commitTimeMs).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        planPhases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Start or stop recording; spans and counters accumulate across the
    * recorded intervals. */
  def record(flag: Boolean): Unit = if (enabled && flag != on) {
    drain()
    on = flag
    if (flag) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  /** Runs `body` inside a span of `kind`; the innermost open span is its
    * parent. Setting `opKey` tags every Spark job started inside with it. */
  def span[T](kind: String, name: String, opKey: String = "")(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    val id = nextId()
    val parent = stack.headOption.getOrElse(-1)
    val prevKey = key
    if (opKey.nonEmpty) { key = opKey; sc.setLocalProperty("perfbench.key", opKey) }
    if (kind == "construct" || kind == "execute")
      sc.setLocalProperty("perfbench.phase", kind)
    stack = id :: stack
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack = stack.tail
      synchronized { spans += Span(id, parent, kind, name, key, t0, t1) }
      if (opKey.nonEmpty) {
        key = prevKey
        sc.setLocalProperty("perfbench.key", if (prevKey.isEmpty) null else prevKey)
      }
    }
  }

  private var idSeq = 0
  private def nextId(): Int = { idSeq += 1; idSeq }

  /** Writes every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "key" -> s.key, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))
    } ++ planPhases.map { case (n, t0, t1) =>
      Json.obj(Seq("id" -> -1, "parent" -> -1, "kind" -> "plan",
        "name" -> n, "key" -> "", "start_ms" -> t0, "end_ms" -> t1))
    } ++ progress.map { p =>
      Json.obj(Seq("id" -> -1, "parent" -> -1, "kind" -> "microbatch",
        "name" -> "microbatch", "key" -> "", "start_ms" -> p.startMs,
        "end_ms" -> (p.startMs + p.durations.getOrElse("triggerExecution", 0L))))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON writer for the benchmark's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
