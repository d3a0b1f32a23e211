package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}

import graft.{SessionTuning, SparkEntry}

/** The profiling entry point: where does a registry query's time go, on
  * the session Bench times (`SessionTuning.session`). For each named
  * query, two reps; each prints
  *
  *   - `[job]` one line per Spark job: wall ms, the tasks that ran for
  *     it (a skipped stage's planned tasks do not count), call site;
  *   - `[batch]` one line per streaming microbatch: batch id, input rows
  *     and the progress event's `durationMs` phases;
  *   - `[rep]` construction time (the query function call — streaming
  *     harnesses, store builds and collects run here), execution time
  *     (the full result written to the `noop` sink; `count()` would let
  *     Catalyst prune the final projections and aggregates), and the
  *     codegen classes compiled over both, with their compile time (a
  *     warm rep 2 that still compiles is recompiling).
  *
  * Every line carries its `<query> rep<r>` tag, the [[Trace]] tag the
  * rep runs under; the rep's lines print from the trace's record once
  * its bus has drained. After the last rep, the final adaptive plan of the
  * noop write and each `AQEShuffleRead`'s partition count (the plan's
  * string hides how far AQE coalesced). An unknown or failing query is a
  * `[fail]` line and a non-zero exit.
  *
  * A conf A/B runs the same command under `-Dspark.sql.…=…` java options.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query...>
  */
object Profile extends AdaptiveSparkPlanHelper {
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
    val trace = new Trace(spark)
    def secs(t0: Long): String = f"${(System.nanoTime() - t0) / 1e9}%.3f s"
    // the JVM's codegen compiles so far and their summed compile time;
    // the time sums the histogram's retained samples, which hold every
    // compile until the JVM has made 1,028 of them
    def codegen(): (Long, Double) = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      (h.getCount, h.getSnapshot.getValues.sum.toDouble)
    }
    // each rep runs under its tag; its lines print from the trace's
    // record once the rep has drained, and rep 2's last plan — the
    // noop write's final adaptive plan — is the query's
    def profile(name: String, fn: (SparkSession, String) => DataFrame): Boolean = {
      var plan: Option[SparkPlan] = None
      val ok = (1 to 2).forall { r =>
        val tag = s"$name rep$r"
        val (n0, ms0) = codegen()
        val res = trace.tagged(tag)(scala.util.Try {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val construct = secs(t0)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (construct, secs(t1))
        })
        val (n1, ms1) = codegen()
        val rec = trace.take(tag)
        rec.jobs.values.foreach(j => out(s"[job] $tag id=${j.id} wall=${j.wallMs}ms " +
          s"tasks=${j.tasks} site=${j.site}"))
        rec.batches.foreach { b =>
          val phases = b.durationMs.map { case (k, v) => s"$k=$v" }.mkString(",")
          out(s"[batch] $tag id=${b.id} rows=${b.rows} durationMs=$phases")
        }
        plan = rec.plan
        res.fold(
          e => { out(s"[fail] $tag: $e"); false },
          { case (construct, execute) =>
            out(s"[rep] $tag construct=$construct execute=$execute " +
              f"compiles=${n1 - n0} compile_ms=${ms1 - ms0}%.0f")
            true
          })
      }
      if (ok) plan.foreach(printPlan(name, _))
      ok
    }
    def printPlan(name: String, plan: SparkPlan): Unit = {
      out(s"========== $name final adaptive plan ==========")
      out(plan.toString)
      foreach(plan) {
        case a: AQEShuffleReadExec =>
          out(s"[aqe] AQEShuffleRead partitions=${a.partitionSpecs.length}")
        case _ =>
      }
    }
    try names.count { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          out(s"[fail] $name: unknown query")
          true
        case Some(fn) => !profile(name, fn)
      }
    } finally trace.close()
  }
}
