package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bucketing

class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bucketed join runs with zero exchanges and matches plain join") {
    val sf = "/root/testdata/sf0.001"
    val li = Tables.load(spark, sf, "lineitem")
    val ord = Tables.load(spark, sf, "orders")
    val dir = SparkTestSession.tempDir("graft-bucketing").toString
    Bucketing.writeBucketedAt(li, "li_b", "l_orderkey", 4, s"$dir/li_b")
    Bucketing.writeBucketedAt(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_b", "l_orderkey", 4, s"$dir/ord_b")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
      val n = joined.count()
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: Exchange => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles:\n${joined.queryExecution.executedPlan}")
      // same row count as the unbucketed join
      val plain = li.join(
        ord.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey").count()
      assert(n == plain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
