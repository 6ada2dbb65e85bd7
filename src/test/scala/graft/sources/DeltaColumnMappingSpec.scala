package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract of NAME-mode column mapping: parquet files store physical
  * (uuid-ish) column names, the log keys partitionValues by them, and the
  * reader presents LOGICAL names everywhere — values, filters, pruning,
  * the planned scan's kept files. Id mode is rejected loudly. */
class DeltaColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("graft_delta_cm").resolve("t").toString

  private val mapping = Map(
    "id" -> "col-7a3f", "p" -> "col-91bc", "v" -> "col-e044")

  private val base = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"),
    (4L, "b", "y")).toDF("id", "p", "v")

  test("mapped table reads with logical names; physical names in the files") {
    val t = tbl()
    DeltaFixture.commitMapped(spark, t, base.schema, Seq("p"), 0L, mapping,
      Seq("a", "b").map(p => Map("p" -> p) -> base.filter($"p" === p)))
    val snap = DeltaRead.snapshot(t)
    assert(snap.columnMapping == mapping)
    assert(snap.files.forall(_.partitionValues.keySet == Set("p")),
      "partitionValues keys must be normalized to logical")
    // raw file really is physical-named — the mapping is load-bearing
    val raw = spark.read.parquet(
      java.nio.file.Paths.get(t).resolve(snap.files.head.path).toString)
    assert(raw.columns.toSet == Set("col-7a3f", "col-e044"))
    val back = DeltaRead.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "p", "v"))
    assert(back.as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y")))
  }

  test("logical filters prune partitions and push through the alias layer") {
    val t = tbl()
    DeltaFixture.commitMapped(spark, t, base.schema, Seq("p"), 0L, mapping,
      Seq("a", "b").map(p => Map("p" -> p) -> base.filter($"p" === p)))
    val df = DeltaRead.read(spark, t).filter($"p" === "b")
    assert(LogScan.keptFiles(df).size == 1)
    assert(df.as[(Long, String, String)].collect().toSet ==
      Set((3L, "b", "x"), (4L, "b", "y")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Location: LogFileIndex"))
    assert("PartitionFilters: \\[[^\\]]*b".r.findFirstIn(plan).nonEmpty,
      s"partition predicate must prune at the index, plan was:\n$plan")
    // the scan touches only the b file
    assert(df.select(input_file_name()).distinct().count() == 1)
  }

  test("deletion vectors compose with column mapping") {
    val t = tbl()
    DeltaFixture.commitMapped(spark, t, base.schema, Nil, 0L, mapping,
      Seq(Map.empty[String, String] -> base))
    DeltaWrite.deleteWhere(spark, t, col("id") <= 2)
    val back = DeltaRead.read(spark, t)
    assert(back.as[(Long, String, String)].collect().toSet ==
      Set((3L, "b", "x"), (4L, "b", "y")))
  }

  test("checkpoint keeps the mapping configuration; append stages physically") {
    val t = tbl()
    DeltaFixture.commitMapped(spark, t, base.schema, Seq("p"), 0L, mapping,
      Seq("a", "b").map(p => Map("p" -> p) -> base.filter($"p" === p)))
    DeltaWrite.deleteWhere(spark, t, col("id") === 1L)
    DeltaWrite.checkpoint(spark, t)
    // resume strictly from the checkpoint
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    Seq(0L, 1L).foreach(v =>
      Files.deleteIfExists(logDir.resolve(f"$v%020d.json")))
    val snap = DeltaRead.snapshot(t)
    assert(snap.columnMapping == mapping,
      "delta.columnMapping.mode must survive checkpoint compaction")
    assert(DeltaRead.read(spark, t).as[(Long, String, String)].collect().toSet ==
      Set((2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y")))
    // appends stage in the PHYSICAL column space (r14: supported) and
    // replay on top of the checkpoint
    DeltaWrite.write(Seq((9L, "c", "z")).toDF("id", "p", "v"), t)
    assert(DeltaRead.read(spark, t).as[(Long, String, String)].collect().toSet ==
      Set((2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y"), (9L, "c", "z")))
    // mergeSchema on a mapped table stays the loud reject
    val e = intercept[IllegalArgumentException] {
      DeltaWrite.write(Seq((10L, "c", "z", true)).toDF("id", "p", "v", "w"), t,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("column-mapped"))
  }

  test("id mode: files resolve by parquet FIELD ID, not by any name") {
    val t = tbl()
    // the Iceberg-conversion shape: data files keep their ORIGINAL
    // (logical) column names and carry field ids — physical-NAME lookup
    // would project nulls; only id resolution reads the rows
    DeltaFixture.commitMappedId(spark, t, base.schema, Seq("p"), 0L, mapping,
      Seq("a", "b").map(p => Map("p" -> p) -> base.filter($"p" === p)))
    val snap = DeltaRead.snapshot(t)
    assert(snap.fieldIds == Map("id" -> 1L, "p" -> 2L, "v" -> 3L))
    assert(snap.columnMapping == mapping)
    assert(snap.files.forall(_.partitionValues.keySet == Set("p")),
      "partitionValues keys (physical in the log) normalize to logical")
    // the raw file is NOT physical-named — name matching cannot work here
    val raw = spark.read.parquet(
      java.nio.file.Paths.get(t).resolve(snap.files.head.path).toString)
    assert(raw.columns.toSet == Set("id", "v"))
    val back = DeltaRead.read(spark, t)
    assert(back.columns.toSeq == Seq("id", "p", "v"))
    assert(back.as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y")))
    // logical partition predicate still prunes
    val onlyB = DeltaRead.read(spark, t).filter($"p" === "b")
    assert(LogScan.keptFiles(onlyB).size == 1)
    assert(onlyB.count() == 2)
  }

  test("id mode composes with deletion vectors and checkpoints") {
    val t = tbl()
    DeltaFixture.commitMappedId(spark, t, base.schema, Seq("p"), 0L, mapping,
      Seq("a", "b").map(p => Map("p" -> p) -> base.filter($"p" === p)))
    DeltaWrite.deleteWhere(spark, t, $"id" === 2L)
    assert(DeltaRead.read(spark, t).as[(Long, String, String)].collect().toSet ==
      Set((1L, "a", "x"), (3L, "b", "x"), (4L, "b", "y")))
    DeltaWrite.checkpoint(spark, t)
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    Files.delete(logDir.resolve(f"${1L}%020d.json"))
    val snap = DeltaRead.snapshot(t)
    assert(snap.fieldIds.nonEmpty && snap.columnMapping == mapping,
      "id mapping must survive checkpoint compaction")
    assert(DeltaRead.read(spark, t).count() == 3)
  }

  test("id-mode files WITHOUT field ids fail loudly, never silent nulls") {
    val t = tbl()
    // name-mode fixture files: physical names, NO parquet field ids
    DeltaFixture.commitMapped(spark, t, base.schema, Nil, 0L, mapping,
      Seq(Map.empty[String, String] -> base))
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    val f = logDir.resolve(f"${0L}%020d.json")
    Files.writeString(f, Files.readString(f)
      .replace("\"delta.columnMapping.mode\":\"name\"",
        "\"delta.columnMapping.mode\":\"id\""))
    // snapshot parses (the spec's metadata is complete) but the SCAN must
    // fail — matching by id against an id-less file has no sound answer
    val e = intercept[Exception] {
      DeltaRead.read(spark, t).collect()
    }
    assert(e.toString.toLowerCase.contains("field id") ||
      Option(e.getCause).exists(_.toString.toLowerCase.contains("field id")),
      s"want a loud field-id failure, got $e")
  }
}
