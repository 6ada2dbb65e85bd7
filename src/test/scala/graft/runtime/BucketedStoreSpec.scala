package graft.runtime

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucketed-layout contract: joins between tables bucketed on the same key
  * must plan WITHOUT a shuffle — the scale-defining property. */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  test("same-bucket join plans with zero Exchange nodes") {
    val wh = Files.createTempDirectory("graft_bucket").toString
    val store = new Bucketed(spark, wh)
    // at fixture size Spark prefers a broadcast join (which also avoids the
    // shuffle, but trivially); disable it to expose the bucketed sort-merge
    // path a 100 TB join would take
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    val hub = (1 to 100).map(i => (s"hk$i", s"bk$i")).toDF("hk", "bk")
      .withColumn("ldts", to_timestamp(lit("2024-01-01 00:00:00")))
    val sat = (1 to 100).flatMap(i => Seq((s"hk$i", s"v$i-1"), (s"hk$i", s"v$i-2")))
      .toDF("hk", "payload")
      .withColumn("ldts", to_timestamp(lit("2024-01-01 00:00:00")))
    store.overwrite("b_hub", hub, "hk", 4, "ldts")
    store.overwrite("b_sat", sat, "hk", 4, "ldts")

    val joined = store.read("b_hub").join(store.read("b_sat"), "hk")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle; plan was:\n$plan")
    assert(joined.count() == 200)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_hub")
      spark.sql("DROP TABLE IF EXISTS b_sat")
    }
  }

  test("overwrite is safe when df derives from the table it replaces") {
    val wh = Files.createTempDirectory("graft_bucket_self").toString
    val store = new Bucketed(spark, wh)
    val df = (1 to 10).map(i => (s"hk$i", i)).toDF("hk", "v")
      .withColumn("ldts", to_timestamp(lit("2024-01-01 00:00:00")))
    try {
      store.overwrite("b_self", df, "hk", 2, "ldts")
      val derived = store.read("b_self").filter($"v" <= 5)
      store.overwrite("b_self", derived, "hk", 2, "ldts")
      assert(store.read("b_self").count() == 5)
      // bucket metadata survives the swap (DDL-recreated table)
      val cat = spark.sql("DESCRIBE EXTENDED b_self").collect().map(_.mkString("|")).mkString("\n")
      assert(cat.contains("Num Buckets") || cat.contains("bucket"), cat)
    } finally spark.sql("DROP TABLE IF EXISTS b_self")
  }
}
