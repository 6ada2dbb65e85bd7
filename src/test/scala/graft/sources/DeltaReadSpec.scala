package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** Contract of the open-spec Delta read adapter: log replay (last action
  * per path wins), checkpoint resume, FileIndex partition pruning, loud
  * rejection of reader features we can't honor. */
class DeltaReadSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): (String, Seq[String]) = {
    val tbl = Files.createTempDirectory("graft_delta_spec").resolve("t").toString
    val df = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y"))
      .toDF("id", "p", "v")
    // commit 0: one file per p; commit 1: adds a second 'a' file and
    // REMOVES the original 'a' file → live = {a:new, b:old}
    val c0 = DeltaFixture.commit(spark, tbl, df.schema, Seq("p"), 0L,
      Seq("a", "b").map(p => Map("p" -> p) -> df.filter($"p" === p)))
    val c1 = DeltaFixture.commit(spark, tbl, df.schema, Seq("p"), 1L,
      Seq(Map("p" -> "a") -> Seq((10L, "a", "z")).toDF("id", "p", "v")),
      removes = Seq(c0.head))
    (tbl, c0 ++ c1)
  }

  test("log replay: remove kills the file, later adds show, schema/partitioning from metaData") {
    val (tbl, _) = fixture()
    val snap = DeltaRead.snapshot(tbl)
    assert(snap.version == 1L)
    assert(snap.partitionColumns == Seq("p"))
    assert(snap.schema.fieldNames.toSeq == Seq("id", "p", "v"))
    assert(snap.files.size == 2)
    val rows = DeltaRead.read(spark, tbl).as[(Long, String, String)].collect().toSet
    assert(rows == Set((10L, "a", "z"), (3L, "b", "x"), (4L, "b", "y")),
      "commit-0 'a' rows must be tombstoned, commit-1 rows visible")
    // column order restored to the log's schema order
    assert(DeltaRead.read(spark, tbl).columns.toSeq == Seq("id", "p", "v"))
  }

  test("re-add of a removed path resurrects it (last action per path wins)") {
    val (tbl, paths) = fixture()
    // commit 2 re-adds the exact path removed in commit 1
    val logDir = Paths.get(tbl, "_delta_log")
    val line = Files.readAllLines(logDir.resolve(f"${0L}%020d.json")).get(2) // c0's first add
    Files.write(logDir.resolve(f"${2L}%020d.json"),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    val snap = DeltaRead.snapshot(tbl)
    assert(snap.version == 2L && snap.files.size == 3)
    assert(DeltaRead.read(spark, tbl).count() == 5)
    assert(paths.distinct.size == 3)
  }

  test("partition pruning: pushed predicate reaches listFiles; pruned groups never listed") {
    val (tbl, _) = fixture()
    val snap = DeltaRead.snapshot(tbl)
    val idx = DeltaRead.fileIndex(spark, tbl, snap)
    val pAttr = AttributeReference("p", StringType)()
    val all = idx.listFiles(Nil, Nil)
    val onlyB = idx.listFiles(Seq(EqualTo(pAttr, Literal("b"))), Nil)
    assert(all.map(_.files.size).sum == 2)
    assert(onlyB.map(_.files.size).sum == 1, "p='b' must list exactly the b file")
    assert(LogScan.keptFiles(DeltaRead.read(spark, tbl).filter($"p" === "b")).size == 1)
    // end-to-end seam: the filter lands as PartitionFilters on the scan,
    // with no row-level DataFilters left over
    val plan = DeltaRead.read(spark, tbl).filter($"p" === "b")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Location: LogFileIndex"))
    assert("PartitionFilters: \\[[^\\]]*p#\\d+ = b".r.findFirstIn(plan).nonEmpty, plan)
    assert(plan.contains("DataFilters: []"), plan)
  }

  test("checkpoint resume: snapshot reads the checkpoint + later commits, not the compacted json") {
    val (tbl, _) = fixture()
    val v = DeltaFixture.checkpoint(spark, tbl)
    assert(v == 1L)
    // delete the compacted JSON commits — a reader that ignores the
    // checkpoint now has nothing to replay and must fail; ours must not
    val logDir = Paths.get(tbl, "_delta_log")
    Files.delete(logDir.resolve(f"${0L}%020d.json"))
    Files.delete(logDir.resolve(f"${1L}%020d.json"))
    val snap = DeltaRead.snapshot(tbl)
    assert(snap.version == 1L && snap.files.size == 2)
    val rows = DeltaRead.read(spark, tbl).as[(Long, String, String)].collect().toSet
    assert(rows == Set((10L, "a", "z"), (3L, "b", "x"), (4L, "b", "y")))
    // a commit AFTER the checkpoint still applies on top of it
    DeltaFixture.commit(spark, tbl, snap.schema, Seq("p"), 2L,
      Seq(Map("p" -> "c") -> Seq((20L, "c", "w")).toDF("id", "p", "v")))
    assert(DeltaRead.read(spark, tbl).count() == 4)
  }

  test("unknown reader features are rejected, not mis-read; known v3 ones pass") {
    val tbl = Files.createTempDirectory("graft_delta_feat").resolve("t").toString
    val df = Seq((1L, "a")).toDF("id", "p")
    DeltaFixture.commit(spark, tbl, df.schema, Seq("p"), 0L,
      Seq(Map("p" -> "a") -> df))
    val logDir = Paths.get(tbl, "_delta_log")
    // deletionVectors/columnMapping are IMPLEMENTED now — they must pass
    Files.write(logDir.resolve(f"${1L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","columnMapping"]}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    assert(DeltaRead.snapshot(tbl).protocol.minReaderVersion == 3)
    // an unknown feature (here: variant values) still fails loudly
    Files.write(logDir.resolve(f"${2L}%020d.json"),
      ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["variantType-preview"]}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException](DeltaRead.snapshot(tbl))
    assert(e.getMessage.contains("variantType-preview"))
  }
}
