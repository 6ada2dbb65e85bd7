package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** Contract of the open-spec Iceberg read adapter: current-snapshot
  * manifest resolution, status=2 deletion, dataFilter-channel partition
  * pruning (data files contain the partition columns), loud rejection of
  * delete manifests / unsupported types. */
class IcebergReadSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): (String, Seq[String]) = {
    val tbl = Files.createTempDirectory("graft_ice_spec").resolve("t").toString
    val df = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "x"), (4L, "b", "y"))
      .toDF("id", "p", "v")
    val s1 = IcebergFixture.snapshot(spark, tbl, df.schema, Seq("p"), 1L,
      Seq("a", "b").map(p => Map("p" -> p) -> df.filter($"p" === p)))
    val s2 = IcebergFixture.snapshot(spark, tbl, df.schema, Seq("p"), 2L,
      Seq(Map("p" -> "a") -> Seq((10L, "a", "z")).toDF("id", "p", "v")),
      removes = Seq(s1.head))
    (tbl, s1 ++ s2)
  }

  test("current snapshot wins: status=2 file gone, snapshot-2 file visible, schema from metadata") {
    val (tbl, _) = fixture()
    val snap = IcebergRead.snapshot(tbl)
    assert(snap.snapshotId == 2L)
    assert(snap.identityPartitionCols == Seq("p"))
    assert(snap.schema.fieldNames.toSeq == Seq("id", "p", "v"))
    assert(snap.files.size == 2)
    val rows = IcebergRead.read(spark, tbl).as[(Long, String, String)].collect().toSet
    assert(rows == Set((10L, "a", "z"), (3L, "b", "x"), (4L, "b", "y")))
  }

  test("older metadata versions stay readable history: v1 still points at snapshot 1") {
    val (tbl, _) = fixture()
    // drop the hint → newest v*.metadata.json must be found by number
    Files.delete(Paths.get(tbl, "metadata", "version-hint.text"))
    assert(IcebergRead.snapshot(tbl).snapshotId == 2L)
  }

  test("pruning rides dataFilters over identity tuple columns; non-tuple conjuncts never prune") {
    val (tbl, _) = fixture()
    val snap = IcebergRead.snapshot(tbl)
    val idx = IcebergRead.fileIndex(spark, snap)
    val p = AttributeReference("p", StringType)()
    val v = AttributeReference("v", StringType)()
    assert(idx.listFiles(Nil, Nil).map(_.files.size).sum == 2)
    assert(idx.listFiles(Nil, Seq(EqualTo(p, Literal("b"))))
      .map(_.files.size).sum == 1)
    // a filter on a NON-partition column cannot be evaluated per-file and
    // must be ignored by pruning (rows still filtered after the scan)
    assert(idx.listFiles(Nil, Seq(EqualTo(v, Literal("x")), EqualTo(p, Literal("b"))))
      .map(_.files.size).sum == 1)
    val onlyB = IcebergRead.read(spark, tbl).filter($"p" === "b")
    assert(LogScan.keptFiles(onlyB).size == 1)
    val plan = onlyB.queryExecution.executedPlan.toString
    assert(plan.contains("Location: LogFileIndex"), plan)
    // end-to-end: the filtered scan returns only partition-b rows
    assert(onlyB.count() == 2)
  }

  test("manifest column bounds skip files on non-partition predicates") {
    val tbl = Files.createTempDirectory("graft_ice_stats").resolve("t").toString
    val df = (0L until 400L).map(i => (i, s"v$i")).toDF("id", "v")
    // UNPARTITIONED, 4 id-range-clustered files: only column bounds can prune
    IcebergFixture.snapshot(spark, tbl, df.schema, Nil, 1L,
      (0L until 4L).map(i => Map.empty[String, String] ->
        df.filter($"id" >= i * 100L && $"id" < (i + 1) * 100L)))
    val snap = IcebergRead.snapshot(tbl)
    assert(snap.files.size == 4 && snap.files.forall(_.stats.nonEmpty),
      "every added parquet file must carry manifest bounds")
    val f0 = snap.files.flatMap(_.stats).map(st =>
      (st.min.get("id").map(_.asLong), st.max.get("id").map(_.asLong))).toSet
    assert(f0 == Set((Some(0L), Some(99L)), (Some(100L), Some(199L)),
      (Some(200L), Some(299L)), (Some(300L), Some(399L))), s"got $f0")
    // string bounds present too
    assert(snap.files.forall(_.stats.exists(_.min.get("v").exists(_.isTextual))))
    val probe = IcebergRead.read(spark, tbl).filter($"id" >= 150L && $"id" <= 160L)
    assert(probe.count() == 11)
    val scanned = probe.select(input_file_name()).distinct().count()
    assert(scanned == 1, s"bounds must prune the probe to 1 of 4 files, got $scanned")
    // bounds survive a second snapshot's carry-forward
    IcebergFixture.snapshot(spark, tbl, df.schema, Nil, 2L,
      Seq(Map.empty[String, String] -> Seq((1000L, "z")).toDF("id", "v")))
    val snap2 = IcebergRead.snapshot(tbl)
    assert(snap2.files.size == 5 && snap2.files.forall(_.stats.nonEmpty),
      "carried entries must keep their bounds")
  }

  test("nested schema types (struct/list/map) round-trip end-to-end") {
    val tbl = Files.createTempDirectory("graft_ice_nested").resolve("t").toString
    val df = Seq(
      (1L, Seq("a", "b"), Map("k" -> 1L), ("x", 10L)),
      (2L, Seq("c"), Map("k" -> 2L, "j" -> 3L), ("y", 20L)))
      .toDF("id", "tags", "counts", "pair")
    IcebergFixture.snapshot(spark, tbl, df.schema, Nil, 1L,
      Seq(Map.empty[String, String] -> df))
    val snap = IcebergRead.snapshot(tbl)
    assert(snap.schema("tags").dataType.typeName == "array")
    assert(snap.schema("counts").dataType.typeName == "map")
    assert(snap.schema("pair").dataType.typeName == "struct")
    val back = IcebergRead.read(spark, tbl)
    assert(back.select($"id", $"pair._2", element_at($"counts", "k"))
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 10L, 1L), (2L, 20L, 2L)))
    assert(back.select(explode($"tags")).count() == 3)
  }

  test("ORC data files read through the same snapshot machinery; mixed formats reject") {
    val tbl = Files.createTempDirectory("graft_ice_orc").resolve("t").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    IcebergFixture.snapshot(spark, tbl, df.schema, Nil, 1L,
      Seq(Map.empty[String, String] -> df), format = "orc")
    val snap = IcebergRead.snapshot(tbl)
    assert(snap.files.nonEmpty && snap.files.forall(_.format == "orc"))
    assert(IcebergRead.read(spark, tbl).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // a parquet snapshot stacked on top makes the head MIXED → loud
    IcebergFixture.snapshot(spark, tbl, df.schema, Nil, 2L,
      Seq(Map.empty[String, String] -> Seq((3L, "c")).toDF("id", "v")))
    val e = intercept[IllegalArgumentException] { IcebergRead.read(spark, tbl) }
    assert(e.getMessage.contains("mixed"))
  }

  test("unknown nested type kinds are rejected, not silently mis-read") {
    val (tbl, _) = fixture()
    val metaDir = Paths.get(tbl, "metadata")
    val v = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = Files.readString(metaDir.resolve(s"v$v.metadata.json"))
    val forged = meta.replace("\"type\" : \"string\"",
      "\"type\" : {\"type\":\"variant\",\"element-id\":9}")
    assert(forged != meta, "forge must hit the schema")
    Files.writeString(metaDir.resolve(s"v${v + 1}.metadata.json"), forged)
    Files.writeString(metaDir.resolve("version-hint.text"), (v + 1).toString)
    val e = intercept[IllegalArgumentException](IcebergRead.snapshot(tbl))
    assert(e.getMessage.contains("variant"))
  }

  // delete manifests are APPLIED since r12 (IcebergDeleteSpec covers the
  // semantics); what must still fail loudly is a MALFORMED one — a
  // content=1 manifest whose entries claim data content, which a lax
  // reader would silently treat as deletes of nothing
  test("a delete manifest carrying data-content entries is rejected as malformed") {
    import org.apache.avro.Schema
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    val (tbl, _) = fixture()
    val metaDir = Paths.get(tbl, "metadata")
    // rewrite the current snapshot's manifest list with content=1 rows
    val v = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = Files.readString(metaDir.resolve(s"v$v.metadata.json"))
    val mlPath = """"manifest-list" : "([^"]+)"""".r
      .findAllMatchIn(meta).map(_.group(1)).toSeq.last
    val reader = DataFileReader.openReader(new java.io.File(mlPath),
      new GenericDatumReader[GenericRecord]())
    val (schema, rows) =
      try (reader.getSchema,
        Iterator.continually(reader).takeWhile(_.hasNext).map(_.next()).toVector)
      finally reader.close()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(mlPath))
    try rows.foreach { r =>
      val c = new GenericData.Record(schema)
      schema.getFields.forEach(f => c.put(f.name, r.get(f.name)))
      c.put("content", 1)
      w.append(c)
    } finally w.close()
    val e = intercept[IllegalArgumentException](IcebergRead.snapshot(tbl))
    assert(e.getMessage.contains("delete manifest entry with content=0"))
  }
}
