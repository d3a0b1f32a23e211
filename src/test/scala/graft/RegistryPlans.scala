package graft

import org.apache.spark.sql.execution.SparkPlan

/** The registry's plans, built once per test JVM and table dir. Every
  * registered query outside the `gen_` family (locked by GenSpec,
  * ScheduleSpec and Round17Spec's source audit) and [[skip]] is
  * constructed on [[SparkTestSession]] under the default test conf, at
  * the caller's table dir, and only its plans are kept, never the
  * DataFrame. Every whole-registry plan audit walks [[all]]; a spec that
  * reads one registered query's plan under the default conf reads
  * [[apply]]. PlanSpec asserts one construction per planned query. A
  * construction that throws fails every read of that query, not the
  * whole fixture.
  */
object RegistryPlans {
  final case class Plans(sparkPlan: SparkPlan, executedPlan: String)

  /** Registered queries no plan audit constructs, each with its reason. */
  val skip: Map[String, String] = Map(
    "q73_stream_hourly" -> "streaming entry; its own spec checks its plan",
    "q92_stream_enrich" -> "streaming entry; its own spec checks its plan",
    "q315_stream_foldin" -> ("runs a complete streaming query (staging, " +
      "RocksDB state, retrain) at construction; Round16Spec gates its tail"),
    "q323_serving_cutover" -> ("runs its streaming harness at " +
      "construction; Round17Spec gates its batch tail"),
    "q327_live_compaction" -> ("runs its streaming harness at " +
      "construction; Round17Spec gates its batch tail"),
    "q330_stream_erasure" -> ("runs its streaming harness at " +
      "construction; Round17Spec gates its batch tail"))

  val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(_.startsWith("gen_")).filterNot(skip.contains)

  private var constructed = 0

  /** How many registry constructions this JVM's fixture made. */
  def constructions: Int = synchronized(constructed)

  private val built =
    scala.collection.mutable.Map.empty[String, Map[String, scala.util.Try[Plans]]]

  private def plans(sf: String) = synchronized {
    built.getOrElseUpdate(sf, {
      val spark = SparkTestSession.spark
      val t0 = System.nanoTime
      val ps = names.map { q =>
        constructed += 1
        q -> scala.util.Try {
          val qe = SparkEntry.queries(q)(spark, sf).queryExecution
          Plans(qe.sparkPlan, qe.executedPlan.toString)
        }
      }.toMap
      println(f"[registry-plans] ${names.size} queries planned in " +
        f"${(System.nanoTime - t0) / 1e9}%.1f s")
      ps
    })
  }

  def apply(sf: String, q: String): Plans = plans(sf)(q).get

  /** Every planned query with its plans, in name order. */
  def all(sf: String): Seq[(String, Plans)] = names.map(q => q -> apply(sf, q))
}
