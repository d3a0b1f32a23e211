package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BusSync
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SessionTuning, SparkEntry}

/** The profiling entry point: where does a registry query's time go, on
  * the session Bench times (`SessionTuning.session`). For each named
  * query, two reps; each prints
  *
  *   - `[job]` one line per Spark job: wall ms, task count, call site;
  *   - `[batch]` one line per streaming microbatch: batch id, input rows
  *     and the progress event's `durationMs` phases;
  *   - `[rep]` construction time (the query function call — streaming
  *     harnesses, store builds and collects run here), execution time
  *     (the full result written to the `noop` sink; `count()` would let
  *     Catalyst prune the final projections and aggregates), and the
  *     codegen classes compiled over both, with their compile time (a
  *     warm rep 2 that still compiles is recompiling).
  *
  * Every line carries its `<query> rep<r>` tag; the same tag is each
  * job's description. After the last rep, the final adaptive plan of the
  * noop write and each `AQEShuffleRead`'s partition count (the plan's
  * string hides how far AQE coalesced). An unknown or failing query is a
  * `[fail]` line and a non-zero exit.
  *
  * A conf A/B runs the same command under `-Dspark.sql.…=…` java options.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.Profile <sfDir> <query...>")
      sys.exit(2)
    }
    val spark = SessionTuning.session()
    spark.sparkContext.setLogLevel("ERROR")
    val failed =
      try run(spark, args.head, args.toSeq.tail, println)
      finally spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** Profiles `names` on `spark`, writing every line to `out`; returns
    * the number of queries that were unknown or failed. */
  private[graft] def run(spark: SparkSession, sfDir: String,
      names: Seq[String], out: String => Unit): Int = {
    val sc = spark.sparkContext
    // the rep in flight; it changes only after a bus drain, so every
    // event a rep's jobs and batches posted is printed under its tag
    val tag = new AtomicReference("")
    val lastPlan = new AtomicReference[SparkPlan]()
    val jobs = new SparkListener {
      private val started = new ConcurrentHashMap[Int, (Long, Int, String)]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId, (e.time, e.stageInfos.map(_.numTasks).sum,
          e.stageInfos.lastOption.map(_.name).getOrElse("?")))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (t0, tasks, site) =>
          out(s"[job] ${tag.get} id=${e.jobId} wall=${e.time - t0}ms " +
            s"tasks=$tasks site=$site")
        }
    }
    val batches = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = p.durationMs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(",")
        out(s"[batch] ${tag.get} id=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=$phases")
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    // the noop write is each rep's last action, so after the drain this
    // holds its executed — final adaptive — plan
    val plans = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastPlan.set(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.streams.addListener(batches)
    spark.listenerManager.register(plans)
    def secs(t0: Long): String = f"${(System.nanoTime() - t0) / 1e9}%.3f s"
    // the JVM's codegen compiles so far and their summed compile time;
    // the time sums the histogram's retained samples, which hold every
    // compile until the JVM has made 1,028 of them
    def codegen(): (Long, Double) = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum.toDouble)
    }
    def profile(name: String, fn: (SparkSession, String) => DataFrame): Boolean =
      (1 to 2).forall { r =>
        tag.set(s"$name rep$r")
        sc.setJobDescription(tag.get)
        val (n0, ms0) = codegen()
        val t0 = System.nanoTime()
        val res = scala.util.Try {
          val df = fn(spark, sfDir)
          val construct = secs(t0)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (construct, secs(t1))
        }
        val (n1, ms1) = codegen()
        BusSync.drain(sc)
        res.fold(
          e => { out(s"[fail] ${tag.get}: $e"); false },
          { case (construct, execute) =>
            out(s"[rep] ${tag.get} construct=$construct execute=$execute " +
              f"compiles=${n1 - n0} compile_ms=${ms1 - ms0}%.0f")
            true
          })
      }
    def printPlan(name: String, plan: SparkPlan): Unit = {
      out(s"========== $name final adaptive plan ==========")
      out(plan.toString)
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AQEShuffleReadExec =>
            out(s"[aqe] AQEShuffleRead partitions=${a.partitionSpecs.length}")
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec        => walk(q.plan)
          case _                        =>
        }
        p.children.foreach(walk)
      }
      walk(plan)
    }
    try names.count { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          out(s"[fail] $name: unknown query")
          true
        case Some(fn) =>
          val ok = profile(name, fn)
          if (ok) Option(lastPlan.get).foreach(printPlan(name, _))
          !ok
      }
    } finally {
      sc.setJobDescription(null)
      spark.listenerManager.unregister(plans)
      spark.streams.removeListener(batches)
      sc.removeSparkListener(jobs)
    }
  }
}
