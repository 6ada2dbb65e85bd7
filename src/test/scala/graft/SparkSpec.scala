package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs: [[LocalSpark]]'s session,
  * pinned to 4 cores and 4 shuffle partitions. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  protected def sqlc = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = LocalSpark.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
