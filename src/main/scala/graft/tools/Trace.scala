package graft.tools

import scala.collection.immutable.SortedMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.graft.BusSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement spine Bench and Profile share: one Spark listener,
  * one streaming listener and one execution listener, which file what
  * runs inside [[tagged]] under its tag. [[take]] hands a tag's record
  * over: its jobs with the tasks that ran for each, its task metrics,
  * its microbatches and its executed plans.
  *
  * The tag is the `graft.tag` local property, not the job description:
  * the microbatch thread overwrites the description, while local
  * properties are inherited by stream threads and copied into broadcast
  * and subquery threads. Each event is keyed by what it carries:
  *   - a job by the tag in its start event's properties, and a task by
  *     the first recorded job that listed its stage (a later job lists
  *     a finished stage as skipped);
  *   - a microbatch by its run, whose tag the stream thread holds when
  *     it posts the start event (delivered synchronously, on that
  *     thread);
  *   - an executed plan, whose event carries no properties and no
  *     execution id, by the window open when it is delivered: `tagged`
  *     drains the bus on entry and on exit, so a window's plans land
  *     under it.
  * Jobs run outside every window are not recorded.
  */
final class Trace(spark: SparkSession) extends AutoCloseable {
  import Trace._

  private val sc = spark.sparkContext
  // all guarded by this trace's lock: the callbacks run on bus threads
  private val recs = mutable.Map.empty[String, Rec]
  private val jobTag = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val runTag = mutable.Map.empty[java.util.UUID, String]
  @volatile private var open: Option[String] = None

  private def update(tag: String)(f: Rec => Rec): Unit = synchronized {
    recs(tag) = f(recs.getOrElse(tag, Rec()))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach { tag =>
          val job = Job(e.jobId, e.time, -1L, 0L,
            e.stageInfos.lastOption.fold("?")(_.name))
          Trace.this.synchronized {
            jobTag(e.jobId) = tag
            e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
            update(tag)(r => r.copy(jobs = r.jobs.updated(e.jobId, job)))
          }
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Trace.this.synchronized(jobTag.get(e.jobId)).foreach(
        update(_)(_.job(e.jobId)(_.copy(endMs = e.time))))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized {
        for (j <- stageJob.get(e.stageId); tag <- jobTag.get(j))
          update(tag)(r => r.job(j)(x => x.copy(tasks = x.tasks + 1))
            .copy(tasks = r.tasks + e.taskMetrics))
      }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(sc.getLocalProperty(Key))
        .foreach(t => Trace.this.synchronized(runTag(e.runId) = t))
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Trace.this.synchronized(runTag.get(p.runId)).foreach(update(_) { r =>
        r.copy(batches = r.batches :+ Batch(p.batchId, p.numInputRows,
          p.durationMs.asScala.toSeq.map { case (k, v) => k -> v.longValue }
            .sortBy(_._1),
          p.stateOperators.map(_.commitTimeMs).sum))
      })
    }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Trace.this.synchronized(runTag.remove(e.runId): Unit)
  }

  private val planListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      open.foreach(update(_)(r => r.copy(plan = Some(qe.executedPlan),
        planningMs = r.planningMs +
          qe.tracker.phases.values.map(_.durationMs).sum)))
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)
  sc.addSparkListener(jobListener)

  /** Runs `body` with its jobs, tasks, microbatches and plans filed
    * under `tag`; the bus is drained when it returns, so `take(tag)`
    * then holds all of them. */
  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    BusSync.drain(sc)
    open = Some(tag)
    sc.setLocalProperty(Key, tag)
    try body
    finally {
      BusSync.drain(sc)
      open = Option(prev)
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Removes and returns everything filed under `tag`. */
  def take(tag: String): Rec = synchronized {
    val r = recs.remove(tag).getOrElse(Rec())
    r.jobs.keys.foreach(jobTag.remove)
    stageJob.filterInPlace((_, j) => !r.jobs.contains(j))
    r
  }

  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }
}

object Trace {
  /** The local property that carries the tag. */
  val Key = "graft.tag"

  /** One job: its start and end times (-1 until it ends), the tasks
    * that ran for it and its call site. */
  final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Long,
      site: String) {
    def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
  }

  /** Task metrics summed over the tasks that ran; `peakBytes` is the
    * largest per-task peak execution memory. */
  final case class Tasks(tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
      memSpill: Long = 0, diskSpill: Long = 0, peakBytes: Long = 0,
      shufWrite: Long = 0, shufRead: Long = 0) {
    def +(m: TaskMetrics): Tasks =
      if (m == null) copy(tasks = tasks + 1)
      else Tasks(tasks + 1, runMs + m.executorRunTime,
        cpuNs + m.executorCpuTime, memSpill + m.memoryBytesSpilled,
        diskSpill + m.diskBytesSpilled,
        math.max(peakBytes, m.peakExecutionMemory),
        shufWrite + m.shuffleWriteMetrics.bytesWritten,
        shufRead + m.shuffleReadMetrics.totalBytesRead)
  }

  /** One microbatch's progress: its `durationMs` phases by name and the
    * state commit ms summed over its stateful operators. */
  final case class Batch(id: Long, rows: Long,
      durationMs: Seq[(String, Long)], commitMs: Long)

  /** A tag's record: its jobs by id, `planningMs` summing the
    * `QueryPlanningTracker` phases of its successful executions, and
    * `plan`, the executed plan of the last one. */
  final case class Rec(jobs: SortedMap[Int, Job] = SortedMap.empty,
      tasks: Tasks = Tasks(), batches: Vector[Batch] = Vector.empty,
      planningMs: Long = 0, plan: Option[SparkPlan] = None) {
    private[Trace] def job(id: Int)(f: Job => Job): Rec =
      jobs.get(id).fold(this)(j => copy(jobs = jobs.updated(id, f(j))))
  }
}
