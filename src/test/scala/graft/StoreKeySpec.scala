package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

/** Every declared store is keyed on its source: a present store stands
  * in for a rebuild only if rewriting the source moves the root.
  */
class StoreKeySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  // the committed copies of the seed-42 test tables at two scale factors
  private val small = Paths.get("perfbench/data/sf0.001")
  private val large = Paths.get("perfbench/data/sf0.01")

  /** A temp copy of sf0.001's tables. */
  private def copyOfSmall(): Path = {
    val dir = Files.createTempDirectory("graft_storekey")
    scala.util.Using.resource(Files.list(small)) { l =>
      l.forEach(f => Files.copy(f, dir.resolve(f.getFileName)))
    }
    dir
  }

  private def replace(dir: Path, table: String): Unit =
    Files.copy(large.resolve(table), dir.resolve(table),
      StandardCopyOption.REPLACE_EXISTING)

  test("every declared store's root moves when its source is rewritten") {
    val stores = ops.StoreGuard.all
    val dir = copyOfSmall()
    try {
      val d = dir.toString
      // one source at a time, so each store is checked against its own
      val stale = stores.groupBy(_.key.source).toSeq.flatMap {
        case (source, keyed) =>
          val before = keyed.map(_.root(spark, d))
          replace(dir, source)
          keyed.zip(before).collect {
            case (st, r) if st.root(spark, d) == r => st.name
          }
      }
      assert(stale.isEmpty, s"roots unchanged after a source rewrite: $stale")
    } finally graft.streaming.Streams.deleteStaged(dir)
  }

  test("q260 serves the rewritten events, not the old histogram") {
    def rows(name: String, d: String) =
      SparkEntry.queries(name)(spark, d).collect().map(_.toSeq).toSeq
    val dir = copyOfSmall()
    val d = dir.toString
    val roots = scala.collection.mutable.Set.empty[String]
    try {
      roots += ops.Eval.q260Hist.root(spark, d)
      assert(rows("q260_incremental_auc", d) == rows("q240_roc_auc", d))
      replace(dir, "events.parquet")
      roots += ops.Eval.q260Hist.root(spark, d)
      assert(rows("q260_incremental_auc", d) == rows("q240_roc_auc", d),
        "q260 merged a histogram of the old events file")
    } finally {
      roots.foreach(r => graft.streaming.Streams.deleteStaged(Paths.get(r)))
      graft.streaming.Streams.deleteStaged(dir)
    }
  }

  test("the events layout probe runs one job per events file version") {
    val dir = copyOfSmall()
    val t = new tools.Trace(spark)
    def jobs(tag: String): Int = {
      t.tagged(tag)(graft.streaming.Streams.eventsTsIsLong(spark, dir.toString))
      t.take(tag).jobs.size
    }
    try {
      assert(jobs("first") == 1)
      assert(jobs("again") == 0, "the layout probe ran again")
      replace(dir, "events.parquet")
      assert(jobs("replaced") == 1, "the probe served the old file's layout")
      assert(jobs("replaced, again") == 0)
    } finally {
      t.close()
      graft.streaming.Streams.deleteStaged(dir)
    }
  }
}
