package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

/** The shared streaming harness (`Streams.runStream`) and its stagers:
  * a failed run still cleans up after itself, and staged files arrive
  * one per microbatch in the order the stagers pin.
  */
class StreamHarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a run whose sink throws rethrows, drops src and ck, restores confs") {
    import spark.implicits._
    val confs = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    val before = confs.map(spark.conf.getOption)
    var root: Path = null
    val err = intercept[Exception] {
      Streams.runStream(spark, "boom", rocksDb = true) { r =>
        root = r
        val src = r.resolve("src").toString
        Seq((1L, 2L), (1L, 3L)).toDF("k", "v").write.parquet(src)
        Streams.StreamRun(
          spark.readStream.schema("k LONG, v LONG").parquet(src)
            .groupBy($"k").agg(sum($"v")),
          OutputMode.Update,
          sink = Some { (_: Dataset[Row], _: Long) =>
            throw new IllegalStateException("sink failed on purpose")
          },
          result = () => fail("a failed run must not read its result"))
      }
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.exists(e => Option(e.getMessage)
      .exists(_.contains("sink failed on purpose"))), s"lost the cause: $err")
    assert(root != null)
    assert(!Files.exists(root.resolve("src")), "staged source survived")
    assert(!Files.exists(root.resolve("ck")), "checkpoint survived")
    assert(confs.map(spark.conf.getOption) == before,
      "session confs not restored")
  }

  test("staged slices arrive one per microbatch, in slice order") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_arrival")
    try {
      val us = spark.range(0L, 200L).select($"id".as("us"))
      // time-sliced: 2 range slices; slice k is part file k by name
      val sliced = tmp.resolve("sliced")
      assert(Streams.stageTimeSlices(us, sliced) == 199L)
      val parts = scala.util.Using.resource(Files.list(sliced)) { fs =>
        import scala.jdk.CollectionConverters._
        fs.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted
      }
      val slicedWant = parts.map(p =>
        spark.read.parquet(p).as[Long].collect().toSet)
      assert(slicedWant.size == 2 &&
        slicedWant.sliding(2).forall { case Seq(a, b) => a.max < b.min },
        "time slices are not disjoint ascending ranges")
      // single-file: slice k staged in slot k, written in REVERSE order so
      // the pinned slot, not write order, has to decide arrival
      val single = tmp.resolve("single")
      val singleWant = (0 until 3).map(k => (k * 100L until k * 100L + 100L).toSet)
      (2 to 0 by -1).foreach { k =>
        Streams.stageFile(
          singleWant(k).toSeq.toDF("us"), single.resolve(s"b$k.parquet"), k)
      }
      for ((src, want) <- Seq(sliced -> slicedWant, single -> singleWant)) {
        val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
        val q = spark.readStream
          .schema("us LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(src.toString)
          .writeStream
          .option("checkpointLocation", src.resolveSibling(
            src.getFileName.toString + "_ck").toString)
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            seen += b.collect().map(_.getLong(0)).toSet
            ()
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
        def ranges(s: Seq[Set[Long]]) = s.map(b => (b.min, b.max, b.size))
        if (seen.toSeq != want)
          fail(s"$src: microbatches ${ranges(seen.toSeq)} (min, max, n) " +
            s"are not the staged slices ${ranges(want)} in slot order")
      }
    } finally Streams.deleteStaged(tmp)
  }
}
