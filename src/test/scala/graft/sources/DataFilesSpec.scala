package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared data-file writer on its failure paths: a write whose frame
  * fails at execution leaves no staging directory in the table root and
  * no new version, and a one-file write leaves exactly its target beside
  * it, or nothing when the frame fails. */
class DataFilesSpec extends SparkSpec {
  import spark.implicits._

  private val base = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"))
    .toDF("id", "p", "v")

  /** `base`'s shape, failing at execution on the row with id 3: the
    * repartition keeps the optimizer from evaluating it while planning,
    * and one task leaves no other task of the job still running */
  private val failing = base.repartition(1).withColumn("v",
    when($"id" === 3L, raise_error(lit("boom"))).otherwise($"v"))

  private def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def noStaging(root: Path): Boolean =
    !names(root).exists(_.startsWith("_staging"))

  test("a Delta or Iceberg write of a failing frame leaves no staging and no new version") {
    val delta = Files.createTempDirectory("graft_df_delta").resolve("t")
    DeltaWrite.write(base, delta.toString, Seq("p"))
    intercept[Exception](DeltaWrite.write(failing, delta.toString))
    assert(noStaging(delta), names(delta))
    assert(DeltaRead.snapshot(delta.toString).version === 0L)

    val ice = Files.createTempDirectory("graft_df_ice").resolve("t")
    IcebergWrite.write(base, ice.toString, Seq("p"))
    intercept[Exception](IcebergWrite.write(failing, ice.toString))
    assert(noStaging(ice), names(ice))
    assert(IcebergRead.snapshot(ice.toString).snapshotId === 1L)
    assert(IcebergRead.read(spark, ice.toString).count() === 3L)
  }

  test("writeOne leaves only its target beside it, and nothing when the frame fails") {
    val dir = Files.createTempDirectory("graft_df_one")
    val target = dir.resolve("sub/one.parquet")
    assert(DataFiles.writeOne(base.repartition(3), target) === Files.size(target))
    assert(names(target.getParent) === Set("one.parquet"))
    assert(spark.read.parquet(target.toString).as[(Long, String, String)]
      .collect().toSet === Set((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x")))

    val doomed = dir.resolve("failed/one.parquet")
    intercept[Exception](DataFiles.writeOne(failing, doomed))
    assert(names(doomed.getParent).isEmpty)
  }
}
