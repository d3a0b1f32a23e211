package graft

/** Plan inspector: prints the formatted physical plan for the named
  * queries (all, if none named) — used to audit pushdown, broadcast
  * choices, and codegen coverage per SURVEY.md's scale checklist. The
  * plan is the pre-execution one; AQE's runtime decisions show in
  * `graft.tools.Profile`'s final adaptive plan.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = SessionTuning.session()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
