package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // SessionTuning's artifact-isolation setting, so restarted streams
  // reuse compiled code as they do under the harness session; not its
  // AQE settings, which change the plans the plan audits walk
  private val (isolationKey, isolationValue) = SessionTuning.artifactIsolation

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(isolationKey, isolationValue)
    .getOrCreate()
}

class AsOfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("as-of join picks latest right row at-or-before left ts") {
    import spark.implicits._
    val trades = Seq((1L, 10L, "t1"), (1L, 20L, "t2"), (2L, 5L, "t3"))
      .toDF("key", "ts", "trade")
    val quotes = Seq((1L, 5L, 1.0), (1L, 10L, 2.0), (1L, 15L, 3.0),
      (2L, 9L, 9.0)).toDF("key", "ts", "px")

    val got = ops.AsOf
      .join(trades, quotes, "key", "ts")
      .select("key", "ts", "trade", "right_px")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet

    assert(
      got == Set(
        (1L, 10L, "t1", Some(2.0)),  // ties match in non-strict mode
        (1L, 20L, "t2", Some(3.0)),
        (2L, 5L, "t3", None),        // nothing at-or-before
      )
    )
  }

  test("strict as-of join excludes same-instant right rows") {
    import spark.implicits._
    val l = Seq((1L, 10L, "a")).toDF("key", "ts", "v")
    val r = Seq((1L, 10L, 99.0), (1L, 7L, 7.0)).toDF("key", "ts", "px")
    val got = ops.AsOf.join(l, r, "key", "ts", strict = true)
      .select("right_px").collect()
    assert(got.head.getDouble(0) == 7.0)
  }

  test("every left row survives (left-outer semantics)") {
    import spark.implicits._
    val l = Seq((1L, 1L, "x"), (9L, 1L, "y")).toDF("key", "ts", "v")
    val r = Seq((1L, 1L, 1.0)).toDF("key", "ts", "px")
    assert(ops.AsOf.join(l, r, "key", "ts").count() == 2)
  }
}

class AsOfToleranceSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("tolerance drops matches older than the lookback bound") {
    import spark.implicits._
    val l = Seq((1L, 100L, "x"), (1L, 11L, "y")).toDF("key", "ts", "v")
    val r = Seq((1L, 10L, 5.0)).toDF("key", "ts", "px")
    val got = ops.AsOf.join(l, r, "key", "ts", tolerance = Some(5L))
      .select($"ts", $"right_px").collect()
      .map(row => row.getLong(0) -> Option(row.get(1))).toMap
    assert(got(11L).contains(5.0))  // within 5 ticks
    assert(got(100L).isEmpty)       // stale match nulled
  }
}

class SaltingSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("salted join == plain join on a skewed dataset") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 90% of fact rows hit one hot key
    val fact = spark.range(10000).select(
      $"id".as("row_id"),
      when($"id" % 10 =!= 0, 7L).otherwise($"id" % 100).as("k"),
      ($"id" * 2).as("v"))
    val dim = spark.range(100).select($"id".as("k"),
      concat(lit("d"), $"id").as("name"))
    val plain  = fact.join(dim, "k").agg(count(lit(1)), sum($"v")).first()
    val salted = ops.Salting.saltedJoin(fact, dim, "k", "row_id", 16)
      .agg(count(lit(1)), sum($"v")).first()
    assert(plain == salted, s"$plain vs $salted")
    // the hot key's rows really spread over multiple salts
    val spread = fact.withColumn("_salt",
      pmod(xxhash64($"row_id"), lit(16L))).filter($"k" === 7)
      .select("_salt").distinct().count()
    assert(spread == 16, s"hot key spread over $spread salts")
  }
}

class SaltingEdgeSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("salts=1 degenerates to the plain join; salts=0 rejected") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fact = spark.range(1000).select($"id".as("row_id"),
      ($"id" % 7).as("k"), $"id".as("v"))
    val dim = spark.range(7).select($"id".as("k"), $"id".as("w"))
    val plain  = fact.join(dim, "k").count()
    val salted = ops.Salting.saltedJoin(fact, dim, "k", "row_id", 1).count()
    assert(plain == salted)
    intercept[IllegalArgumentException] {
      ops.Salting.saltedJoin(fact, dim, "k", "row_id", 0)
    }
  }
}
