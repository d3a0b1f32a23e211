package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located join via bucketing: pre-bucketing both join sides on the
  * key eliminates the shuffle exchanges from the join plan — the
  * pattern that turns the repeated lineitem⋈orders edge into a
  * shuffle-free map-side join at 100 TB (SURVEY.md §2.b joins row).
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bucketed join plans without shuffle exchanges") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    // the in-memory catalog forgets tables between JVM runs but the
    // warehouse directories persist — clear them or CTAS refuses
    Seq("li_b", "o_b").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    // small-side autoBroadcast would bypass the point — disable it here
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Tables.lineitem(spark, "/root/testdata/sf0.001")
        .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_b")
      Tables.orders(spark, "/root/testdata/sf0.001")
        .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("o_b")

      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))

      val plan = joined.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle its inputs:\n$plan")
      assert(joined.count() == 5) // one row per priority
    }
  }
}
