package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import org.scalatest.funsuite.AnyFunSuite

/** The session's Hadoop conf stays trimmed of its per-key source
  * tracking through streams, writes and reads, ships small, and keeps
  * every value.
  */
class HadoopConfTrimSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  // the benchmark's committed copy of the sf0.001 test tables
  private val sf = new java.io.File("perfbench/data/sf0.001").getAbsolutePath

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def tracked(c: Configuration): Int =
    pairs(c).keys.count(c.getPropertySources(_) != null)

  /** `c` after the serialization tasks get, and the serialized size. */
  private def roundTrip(c: Configuration): (Configuration, Int) = {
    val bytes = new ByteArrayOutputStream
    Using.resource(new ObjectOutputStream(bytes))(
      _.writeObject(new SerializableConfiguration(c)))
    val back = Using.resource(new ObjectInputStream(
      new ByteArrayInputStream(bytes.toByteArray)))(
      _.readObject().asInstanceOf[SerializableConfiguration].value)
    (back, bytes.size)
  }

  test("the base conf stays trimmed after streams, a write and a read") {
    val tmp = Files.createTempDirectory("graft_conftrim")
    try {
      SparkEntry.queries("q73_stream_hourly")(spark, sf).collect()
      SparkEntry.queries("q112_tws_sessions")(spark, sf).collect()
      spark.range(100L).coalesce(1).write.parquet(tmp.resolve("w").toString)
      Tables.load(spark, sf, "orders").collect()
      val base = spark.sparkContext.hadoopConfiguration
      val n = tracked(base)
      info(s"tracked keys: $n of ${pairs(base).size}")
      assert(n < 50, "the base conf tracks its sources again")
      val (_, size) = roundTrip(spark.sessionState.newHadoopConf())
      info(s"SerializableConfiguration: $size bytes")
      assert(size < 80 * 1024)
    } finally streaming.Streams.deleteStaged(tmp)
  }

  test("trimming keeps every (key, value) pair, before and after a round trip") {
    val c = new Configuration()
    c.set("graft.probe", "1")
    HadoopConfTrim.registerDefaults()
    c.size()
    val untrimmed = new Configuration(c)
    assert(tracked(untrimmed) > 1000, "the control tracks no sources")
    HadoopConfTrim.trim(c)
    assert(tracked(c) < 50)
    val expected = pairs(untrimmed)
    assert(pairs(c) == expected)
    assert(pairs(roundTrip(c)._1) == expected)
    assert(pairs(roundTrip(untrimmed)._1) == expected)
  }
}
