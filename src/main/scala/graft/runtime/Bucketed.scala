package graft.runtime

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog-bucketed Parquet tables under `baseDir` (co-located joins).
  *
  * Hash-bucketing a satellite/hub by its hashkey and sorting by ldts makes
  * every (hashkey, hashkey) join SHUFFLE-FREE when both sides share the
  * layout: the sort-merge join reads co-located buckets directly (no
  * Exchange in the plan) — the Spark-native equivalent of the reference
  * warehouses' cluster/distribution keys. Bucket metadata lives in the
  * session catalog (an external table at `baseDir/name`), which a path read
  * cannot carry, so [[read]] goes through the catalog.
  */
final class Bucketed(spark: SparkSession, baseDir: String) {

  private def pathOf(name: String): String = s"$baseDir/$name"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(): Unit
  }

  /** Create/replace a bucketed, sort-ordered table. Writes to a sibling
    * tmp table FIRST and swaps after full materialization: `df` may be
    * derived from the table being replaced (a drop-then-lazy-write would
    * lose the input), and a mid-write crash must leave either the old or
    * the new table, never neither. */
  def overwrite(name: String, df: DataFrame, bucketCol: String,
                nBuckets: Int, sortCol: String): Unit = {
    val tmpName = name + "__bucket_tmp"
    spark.sql(s"DROP TABLE IF EXISTS `$tmpName`")
    rm(new java.io.File(pathOf(tmpName)))
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(sortCol)
      .option("path", pathOf(tmpName))
      .saveAsTable(tmpName)
    val schemaDdl = spark.table(tmpName).schema.toDDL
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    rm(new java.io.File(pathOf(name)))
    Files.move(Paths.get(pathOf(tmpName)), Paths.get(pathOf(name)))
    spark.sql(s"DROP TABLE IF EXISTS `$tmpName`") // external: files already moved
    spark.sql(
      s"""CREATE TABLE `$name` ($schemaDdl) USING PARQUET
         |CLUSTERED BY (`$bucketCol`) SORTED BY (`$sortCol`) INTO $nBuckets BUCKETS
         |LOCATION '${pathOf(name)}'""".stripMargin)
  }

  /** Read WITH bucket metadata. */
  def read(name: String): DataFrame = spark.table(name)
}
