package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Emits a PROTOCOL.md-conformant Delta table for the read-interop row and
  * its spec — harness scaffolding, not a write path: the engine's own
  * storage is TxLogTable; this exists so `DeltaRead` can be proven against
  * a table whose log the test itself authored (no Delta library in the
  * container). Shapes follow the published Delta Transaction Log Protocol
  * (github.com/delta-io/delta PROTOCOL.md): JSON commits `%020d.json`
  * (protocol+metaData in commit 0, `add`/`remove` actions after),
  * percent-encoded relative paths, partition values OUT of the data files,
  * single-part parquet checkpoint + `_last_checkpoint` pointer. */
object DeltaFixture {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Deterministic log-relative path for commit `version`'s `idx`-th add
    * under partition values `pv` (hive-style dirs for realism; the log, not
    * the layout, is authoritative). Decoded form — [[pathEnc]] is what the
    * log stores. */
  def pathFor(partCols: Seq[String], pv: Map[String, String], version: Long,
              idx: Int): String = {
    val dirs = partCols.map(c => s"$c=${pv(c)}")
    (dirs :+ f"part-$version%05d-$idx%03d.snappy.parquet").mkString("/")
  }

  private def pathEnc(decoded: String): String =
    new java.net.URI(null, null, decoded, null).getRawPath

  /** Append one commit. `adds` are (partitionValues, rows) — rows must
    * contain the full table schema; partition columns are dropped from the
    * data file per the protocol. `removes` are decoded paths (see
    * [[pathFor]]). Commit 0 carries protocol+metaData. */
  def commit(spark: SparkSession, tableDir: String, schema: StructType,
             partCols: Seq[String], version: Long,
             adds: Seq[(Map[String, String], DataFrame)],
             removes: Seq[String] = Nil): Seq[String] = {
    val root = Paths.get(tableDir)
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    if (version == 0L) {
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      val m = mapper.createObjectNode()
      val md = m.putObject("metaData")
      md.put("id", "graft-delta-fixture")
      md.putObject("format").put("provider", "parquet")
      md.put("schemaString", schema.json)
      val pc = md.putArray("partitionColumns")
      partCols.foreach(pc.add)
      md.putObject("configuration")
      md.put("createdTime", 0L)
      lines += mapper.writeValueAsString(m)
    }
    val written = adds.zipWithIndex.map { case ((pv, rows), i) =>
      val rel = pathFor(partCols, pv, version, i)
      val size = DataFiles.writeOne(rows.select(schema.fieldNames
        .filterNot(partCols.contains).map(col).toSeq: _*), root.resolve(rel))
      val n = mapper.createObjectNode()
      val add = n.putObject("add")
      add.put("path", pathEnc(rel))
      val pvn = add.putObject("partitionValues")
      pv.foreach { case (k, v) => pvn.put(k, v) }
      add.put("size", size)
      add.put("modificationTime", 0L)
      add.put("dataChange", true)
      lines += mapper.writeValueAsString(n)
      rel
    }
    removes.foreach { rel =>
      val n = mapper.createObjectNode()
      val rm = n.putObject("remove")
      rm.put("path", pathEnc(rel))
      rm.put("deletionTimestamp", 0L)
      rm.put("dataChange", true)
      lines += mapper.writeValueAsString(n)
    }
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    written
  }

  /** A MAINTENANCE commit — the OPTIMIZE/compaction shape: `removes` are
    * tombstoned and `rows` re-added as ONE combined file, every action
    * with `dataChange=false` (the protocol's marker that the commit
    * rearranges existing rows without changing table content). Incremental
    * consumers (readAppends / readChangeFeed / DeltaTail) must treat such
    * a commit as a no-op. Returns the combined file's relative path. */
  def compactionCommit(spark: SparkSession, tableDir: String,
                       schema: StructType, partCols: Seq[String],
                       version: Long, pv: Map[String, String],
                       rows: DataFrame, removes: Seq[String]): String = {
    val root = Paths.get(tableDir)
    val logDir = root.resolve("_delta_log")
    val rel = pathFor(partCols, pv, version, 0)
    val size = DataFiles.writeOne(rows.select(schema.fieldNames
      .filterNot(partCols.contains).map(col).toSeq: _*), root.resolve(rel))
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    removes.foreach { r =>
      val n = mapper.createObjectNode()
      val rm = n.putObject("remove")
      rm.put("path", pathEnc(r))
      rm.put("deletionTimestamp", 0L)
      rm.put("dataChange", false)
      lines += mapper.writeValueAsString(n)
    }
    val n = mapper.createObjectNode()
    val add = n.putObject("add")
    add.put("path", pathEnc(rel))
    val pvn = add.putObject("partitionValues")
    pv.foreach { case (k, v) => pvn.put(k, v) }
    add.put("size", size)
    add.put("modificationTime", 0L)
    add.put("dataChange", false)
    lines += mapper.writeValueAsString(n)
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    rel
  }

  /** A commit carrying only a `txn` (setTransaction) action — an external
    * streaming writer's idempotence marker. */
  def txnCommit(tableDir: String, version: Long, appId: String,
                txnVersion: Long): Unit = {
    val logDir = Paths.get(tableDir).resolve("_delta_log")
    val n = mapper.createObjectNode()
    val t = n.putObject("txn")
    t.put("appId", appId)
    t.put("version", txnVersion)
    Files.write(logDir.resolve(f"$version%020d.json"),
      (mapper.writeValueAsString(n) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Append one commit whose row-level changes are described by CDC
    * files (PROTOCOL.md §Add CDC File): `cdc` rows carry the data
    * columns + `_change_type` and land under `_change_data/`, recorded
    * as `cdc` actions (dataChange=false — they are DESCRIPTIVE; the
    * table state change itself is the removes/adds also committed here).
    * A CDF reader must treat the cdc files as the commit's authoritative
    * change set and ignore the adds/removes. */
  def cdcCommit(spark: SparkSession, tableDir: String, version: Long,
                partCols: Seq[String],
                cdc: Seq[(Map[String, String], DataFrame)],
                removes: Seq[String] = Nil,
                adds: Seq[(Map[String, String], DataFrame)] = Nil): Unit = {
    val root = Paths.get(tableDir)
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    def writeOne(rows: DataFrame, rel: String): Long = DataFiles.writeOne(
      rows.select(rows.columns.filterNot(partCols.contains).map(col).toSeq: _*),
      root.resolve(rel))
    cdc.zipWithIndex.foreach { case ((pv, rows), i) =>
      require(rows.columns.contains("_change_type"),
        "cdc rows must carry a _change_type column")
      val rel = f"_change_data/cdc-$version%05d-$i%03d.parquet"
      val size = writeOne(rows, rel)
      val n = mapper.createObjectNode()
      val c = n.putObject("cdc")
      c.put("path", pathEnc(rel))
      val pvn = c.putObject("partitionValues")
      pv.foreach { case (k, v) => pvn.put(k, v) }
      c.put("size", size)
      c.put("dataChange", false)
      lines += mapper.writeValueAsString(n)
    }
    adds.zipWithIndex.foreach { case ((pv, rows), i) =>
      val rel = pathFor(partCols, pv, version, i)
      val size = writeOne(rows, rel)
      val n = mapper.createObjectNode()
      val add = n.putObject("add")
      add.put("path", pathEnc(rel))
      val pvn = add.putObject("partitionValues")
      pv.foreach { case (k, v) => pvn.put(k, v) }
      add.put("size", size)
      add.put("modificationTime", 0L)
      add.put("dataChange", true)
      lines += mapper.writeValueAsString(n)
    }
    removes.foreach { rel =>
      val n = mapper.createObjectNode()
      val rm = n.putObject("remove")
      rm.put("path", pathEnc(rel))
      rm.put("deletionTimestamp", 0L)
      rm.put("dataChange", true)
      lines += mapper.writeValueAsString(n)
    }
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Append one commit to a NAME-mode column-mapped table (the layout a
    * modern Databricks writer produces by default): schemaString fields
    * carry `delta.columnMapping.id`/`physicalName` metadata, data files
    * store the PHYSICAL column names, and partitionValues (+ stats, were
    * they emitted) are keyed physically. `mapping` is logical → physical
    * and must cover every schema field. */
  def commitMapped(spark: SparkSession, tableDir: String, schema: StructType,
                   partCols: Seq[String], version: Long,
                   mapping: Map[String, String],
                   adds: Seq[(Map[String, String], DataFrame)]): Seq[String] = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField}
    require(schema.fieldNames.forall(mapping.contains),
      s"mapping must cover all fields, missing ${schema.fieldNames.filterNot(mapping.contains).mkString(",")}")
    val root = Paths.get(tableDir)
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    if (version == 0L) {
      lines += """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}"""
      val mappedSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
        StructField(f.name, f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", i + 1L)
            .putString("delta.columnMapping.physicalName", mapping(f.name))
            .build())
      })
      val m = mapper.createObjectNode()
      val md = m.putObject("metaData")
      md.put("id", "graft-delta-fixture-cm")
      md.putObject("format").put("provider", "parquet")
      md.put("schemaString", mappedSchema.json)
      val pc = md.putArray("partitionColumns")
      partCols.foreach(pc.add)
      val cfg = md.putObject("configuration")
      cfg.put("delta.columnMapping.mode", "name")
      cfg.put("delta.columnMapping.maxColumnId", schema.fields.length.toString)
      md.put("createdTime", 0L)
      lines += mapper.writeValueAsString(m)
    }
    val written = adds.zipWithIndex.map { case ((pv, rows), i) =>
      val rel = pathFor(partCols.map(mapping), pv.map { case (k, v) => mapping(k) -> v },
        version, i)
      val size = DataFiles.writeOne(rows.select(schema.fieldNames
        .filterNot(partCols.contains).map(n => col(n).as(mapping(n))).toSeq: _*),
        root.resolve(rel))
      val n = mapper.createObjectNode()
      val add = n.putObject("add")
      add.put("path", pathEnc(rel))
      val pvn = add.putObject("partitionValues")
      pv.foreach { case (k, v) => pvn.put(mapping(k), v) } // PHYSICAL keys
      add.put("size", size)
      add.put("modificationTime", 0L)
      add.put("dataChange", true)
      lines += mapper.writeValueAsString(n)
      rel
    }
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    written
  }

  /** Author an ID-mode column-mapped table (delta.columnMapping.mode=id —
    * the shape of tables converted from Iceberg or upgraded in place):
    * schemaString fields carry BOTH `delta.columnMapping.id` and
    * `delta.columnMapping.physicalName`; the log keys partitionValues by
    * physicalName; but the DATA FILES keep their ORIGINAL (logical)
    * column names and carry PARQUET FIELD IDS — so a reader that matches
    * by physical name projects nulls, and only field-id resolution reads
    * the rows. Field id of column i = i+1, matching the metadata. */
  def commitMappedId(spark: SparkSession, tableDir: String, schema: StructType,
                     partCols: Seq[String], version: Long,
                     mapping: Map[String, String],
                     adds: Seq[(Map[String, String], DataFrame)]): Seq[String] = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField}
    require(schema.fieldNames.forall(mapping.contains),
      s"mapping must cover all fields, missing ${schema.fieldNames.filterNot(mapping.contains).mkString(",")}")
    val root = Paths.get(tableDir)
    val logDir = root.resolve("_delta_log")
    Files.createDirectories(logDir)
    val fieldId: Map[String, Long] =
      schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1L) }.toMap
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    if (version == 0L) {
      lines += """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}"""
      val mappedSchema = StructType(schema.fields.map { f =>
        StructField(f.name, f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", fieldId(f.name))
            .putString("delta.columnMapping.physicalName", mapping(f.name))
            .build())
      })
      val m = mapper.createObjectNode()
      val md = m.putObject("metaData")
      md.put("id", "graft-delta-fixture-id")
      md.putObject("format").put("provider", "parquet")
      md.put("schemaString", mappedSchema.json)
      val pc = md.putArray("partitionColumns")
      partCols.foreach(pc.add)
      val cfg = md.putObject("configuration")
      cfg.put("delta.columnMapping.mode", "id")
      cfg.put("delta.columnMapping.maxColumnId", schema.fields.length.toString)
      md.put("createdTime", 0L)
      lines += mapper.writeValueAsString(m)
    }
    val written = adds.zipWithIndex.map { case ((pv, rows), i) =>
      val rel = pathFor(partCols.map(mapping), pv.map { case (k, v) => mapping(k) -> v },
        version, i)
      // ORIGINAL names + field ids in the data pages (fieldId.write is on
      // by default when the schema metadata carries parquet.field.id)
      val size = DataFiles.writeOne(rows.select(schema.fieldNames
        .filterNot(partCols.contains).map(n => col(n).as(n,
          new MetadataBuilder().putLong("parquet.field.id", fieldId(n)).build()))
        .toSeq: _*), root.resolve(rel))
      val n = mapper.createObjectNode()
      val add = n.putObject("add")
      add.put("path", pathEnc(rel))
      val pvn = add.putObject("partitionValues")
      pv.foreach { case (k, v) => pvn.put(mapping(k), v) } // PHYSICAL keys
      add.put("size", size)
      add.put("modificationTime", 0L)
      add.put("dataChange", true)
      lines += mapper.writeValueAsString(n)
      rel
    }
    Files.write(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    written
  }

  /** Compact the table's CURRENT head into a single-part parquet
    * checkpoint + `_last_checkpoint`, the form [[DeltaRead.snapshot]]
    * resumes from. Call after the last [[commit]]. */
  def checkpoint(spark: SparkSession, tableDir: String): Long = {
    val snap = DeltaRead.snapshot(tableDir)
    val logDir = Paths.get(tableDir, "_delta_log")
    val actions = scala.collection.mutable.ArrayBuffer[String]()
    actions += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    val m = mapper.createObjectNode()
    val md = m.putObject("metaData")
    md.put("id", "graft-delta-fixture")
    md.putObject("format").put("provider", "parquet")
    md.put("schemaString", snap.schema.json)
    val pc = md.putArray("partitionColumns")
    snap.partitionColumns.foreach(pc.add)
    md.putObject("configuration")
    md.put("createdTime", 0L)
    actions += mapper.writeValueAsString(m)
    snap.files.foreach { f =>
      val n = mapper.createObjectNode()
      val add = n.putObject("add")
      add.put("path", pathEnc(f.path))
      val pvn = add.putObject("partitionValues")
      f.partitionValues.foreach { case (k, v) => pvn.put(k, v) }
      add.put("size", f.size)
      add.put("modificationTime", 0L)
      add.put("dataChange", false)
      actions += mapper.writeValueAsString(n)
    }
    import spark.implicits._
    DataFiles.writeOne(spark.read.json(actions.toSeq.toDS()),
      logDir.resolve(f"${snap.version}%020d.checkpoint.parquet"))
    Files.writeString(logDir.resolve("_last_checkpoint"),
      s"""{"version":${snap.version},"size":${actions.size}}""")
    snap.version
  }
}
