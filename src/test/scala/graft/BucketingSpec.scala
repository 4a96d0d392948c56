package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed-table co-located join: the 100 TB pattern for repeated joins
  * on the same key — pre-bucket both tables by the join key so the join
  * runs with ZERO exchanges (each bucket pair joins in place). This spec
  * proves the engine's tables support it and that the plan really drops
  * the shuffle.
  */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val warehouse = Files.createTempDirectory("graft-warehouse").toString

  lazy val spark: SparkSession = Sessions(4, conf = Map(
    "spark.sql.warehouse.dir" -> warehouse,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")) // force SMJ path

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warehouse))
  }

  test("pre-bucketed fact/fact join plans with zero exchanges") {
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")
    spark.read.parquet(s"$dir/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")

    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"),
        spark.table("lineitem_b")("l_orderkey") === spark.table("orders_b")("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)

    // sanity: same join WITHOUT bucketing does shuffle
    val unbucketed = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
    assert(unbucketed.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"))
  }
}
