package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Emits a Table-Spec-conformant Iceberg table for the read-interop row
  * and its spec — fixture scaffolding, not a write path (the engine's
  * storage is TxLogTable; see [[DeltaFixture]] for the same stance).
  * Shapes follow iceberg.apache.org/spec, format v2: versioned
  * `metadata/v<N>.metadata.json` + `version-hint.text`, avro manifest
  * lists (`manifest_file` rows) and manifests (`manifest_entry` rows with
  * status 1 added / 0 existing / 2 deleted), data files that CONTAIN the
  * partition source columns, identity partition transforms. */
object IcebergFixture {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def primitiveName(dt: DataType, at: String): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BooleanType => "boolean"
    case DateType => "date"
    // Spark TimestampType is UTC-normalized — Iceberg's timestamptz;
    // NTZ is the spec's zone-less "timestamp"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case other => throw new IllegalArgumentException(
      s"fixture does not emit Iceberg type for $other at '$at'")
  }

  /** Spark type → Iceberg schema-JSON type node (primitive string or the
    * spec's nested struct/list/map object; nested field ids allocated
    * from `nextId`). */
  private def icebergTypeNode(dt: DataType, at: String,
                              nextId: () => Int): com.fasterxml.jackson.databind.JsonNode =
    dt match {
      case StructType(fields) =>
        val n = mapper.createObjectNode()
        n.put("type", "struct")
        val fa = n.putArray("fields")
        fields.foreach { f =>
          val fn = fa.addObject()
          fn.put("id", nextId())
          fn.put("name", f.name)
          fn.put("required", !f.nullable)
          fn.set[com.fasterxml.jackson.databind.JsonNode]("type",
            icebergTypeNode(f.dataType, s"$at.${f.name}", nextId))
        }
        n
      case ArrayType(et, containsNull) =>
        val n = mapper.createObjectNode()
        n.put("type", "list")
        n.put("element-id", nextId())
        n.set[com.fasterxml.jackson.databind.JsonNode]("element",
          icebergTypeNode(et, s"$at.element", nextId))
        n.put("element-required", !containsNull)
        n
      case MapType(kt, vt, valueContainsNull) =>
        val n = mapper.createObjectNode()
        n.put("type", "map")
        n.put("key-id", nextId())
        n.set[com.fasterxml.jackson.databind.JsonNode]("key",
          icebergTypeNode(kt, s"$at.key", nextId))
        n.put("value-id", nextId())
        n.set[com.fasterxml.jackson.databind.JsonNode]("value",
          icebergTypeNode(vt, s"$at.value", nextId))
        n.put("value-required", !valueContainsNull)
        n
      case prim =>
        new com.fasterxml.jackson.databind.node.TextNode(primitiveName(prim, at))
    }

  private def manifestSchema(schema: StructType,
                             partFields0: Seq[IcebergTransforms.PartField]): Schema = {
    val partFields = partFields0.zipWithIndex.map { case (f, i) =>
      val t = IcebergTransforms.avroResultType(f, schema)
      s"""{"name":"${f.name}","type":["null","$t"],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |  {"name":"content","type":"int","default":0,"field-id":134},
         |  {"name":"file_path","type":"string","field-id":100},
         |  {"name":"file_format","type":"string","field-id":101},
         |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$partFields]}},
         |  {"name":"record_count","type":"long","field-id":103},
         |  {"name":"file_size_in_bytes","type":"long","field-id":104},
         |  {"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
         |  {"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
         |  {"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
         |  {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}]}}]}""".stripMargin)
  }

  private val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","default":0,"field-id":517},
      |{"name":"sequence_number","type":"long","default":0,"field-id":515},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":["null","int"],"default":null,"field-id":504},
      |{"name":"existing_files_count","type":["null","int"],"default":null,"field-id":505},
      |{"name":"deleted_files_count","type":["null","int"],"default":null,"field-id":506}]}""".stripMargin)

  /** Iceberg single-value binary serialization (Table Spec Appendix D):
    * ints/longs/floats/doubles/dates little-endian, strings UTF-8,
    * booleans one byte. Returns None for types the bound channel skips. */
  private def singleValueBytes(node: com.fasterxml.jackson.databind.JsonNode,
                               dt: DataType): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType if node.isIntegralNumber =>
        Some(le(4).putInt(node.asInt).array())
      case LongType if node.isIntegralNumber =>
        Some(le(8).putLong(node.asLong).array())
      case FloatType if node.isNumber =>
        Some(le(4).putFloat(node.asDouble.toFloat).array())
      case DoubleType if node.isNumber =>
        Some(le(8).putDouble(node.asDouble).array())
      case StringType if node.isTextual =>
        Some(node.asText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case BooleanType if node.isBoolean =>
        Some(Array[Byte](if (node.asBoolean) 1 else 0))
      case DateType if node.isTextual =>
        scala.util.Try(java.time.LocalDate.parse(node.asText).toEpochDay.toInt)
          .toOption.map(d => le(4).putInt(d).array())
      case _ => None
    }
  }

  private def writeAvro(file: java.nio.file.Path, schema: Schema,
                        rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file.toFile)
    try rows.foreach(w.append) finally w.close()
  }

  /** Append one snapshot. `adds` are (partitionValues, rows) with rows
    * carrying the FULL schema (data files keep partition columns);
    * `removes` are absolute data-file paths from an earlier snapshot's
    * return value. Snapshot 1 creates the table. Returns the absolute
    * paths of the added files. */
  def snapshot(spark: SparkSession, tableDir: String, schema: StructType,
               partCols: Seq[String], snapshotId: Long,
               adds: Seq[(Map[String, String], DataFrame)],
               removes: Seq[String] = Nil,
               format: String = "parquet"): Seq[String] = {
    require(Set("parquet", "orc")(format), s"unsupported fixture format $format")
    val root = Paths.get(tableDir)

    // ---- data files -------------------------------------------------
    val written = adds.zipWithIndex.map { case ((pv, rows), i) =>
      val dirs = partCols.map(c => s"$c=${pv(c)}")
      val rel = ("data" +: dirs).mkString("/") +
        f"/part-$snapshotId%05d-$i%03d.$format"
      val target = root.resolve(rel)
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempDirectory("graft_ice_add").toString
      val w = rows.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
        .coalesce(1).write.mode("overwrite")
      if (format == "orc") w.orc(tmp) else w.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).iterator().asScala
        .find(_.getFileName.toString.endsWith(s".$format")).get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      // record count from the just-written footer (driver-side metadata,
      // exact) instead of a rows.count() Spark job — commitSnapshot opens
      // the same footer for column bounds anyway, so the count job was a
      // full extra pass per fixture file (guide §1.2). ORC adds keep the
      // count job (no footer helper; only the interop fixture writes ORC).
      val n = if (format == "parquet")
        IcebergWrite.rowCount(
          spark.sparkContext.hadoopConfiguration, target)
      else rows.count()
      (target.toString, pv, n, Files.size(target))
    }

    commitSnapshot(tableDir, schema,
      partCols.map(IcebergTransforms.parseField), snapshotId, written,
      removes.toSet, addFormat = format)
    written.map(_._1)
  }

  private def writeOneParquet(df: DataFrame,
                              target: java.nio.file.Path): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempDirectory("graft_ice_del").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commit a v2 POSITION-delete snapshot: `deletes` are (absolute
    * data-file path, 0-based physical row position) pairs, written as the
    * spec's `file_path`/`pos` parquet and registered through a content=1
    * delete manifest. */
  def positionDeleteSnapshot(spark: SparkSession, tableDir: String,
                             snapshotId: Long,
                             deletes: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    val prev = IcebergRead.snapshot(tableDir)
    val target = Paths.get(tableDir)
      .resolve(f"data/delete-$snapshotId%05d-pos.parquet")
    writeOneParquet(deletes.toDF("file_path", "pos"), target)
    commitSnapshot(tableDir, prev.schema, prev.partitionFields,
      snapshotId, Nil, Set.empty,
      Seq(DeleteSpec(target.toString, isEquality = false, Nil,
        deletes.size.toLong, Files.size(target))), operation = "delete")
  }

  /** Commit a v2 EQUALITY-delete snapshot: rows whose `eqCols` values
    * match any row of `rows` are suppressed in data files with sequence
    * number < this snapshot's (the spec's MoR rule — files added in the
    * same or a later snapshot are untouched). */
  def equalityDeleteSnapshot(spark: SparkSession, tableDir: String,
                             snapshotId: Long, eqCols: Seq[String],
                             rows: DataFrame): Unit = {
    val prev = IcebergRead.snapshot(tableDir)
    val nameToId = prev.fieldIdToName.map(_.swap)
    val ids = eqCols.map(c => nameToId.getOrElse(c,
      throw new IllegalArgumentException(s"equality column $c not in schema")))
    val target = Paths.get(tableDir)
      .resolve(f"data/delete-$snapshotId%05d-eq.parquet")
    val proj = rows.select(eqCols.map(org.apache.spark.sql.functions.col): _*)
    writeOneParquet(proj, target)
    // count from the written footer — one fewer Spark job per delete
    // snapshot, identical value (guide §1.2)
    val n = IcebergWrite.rowCount(
      spark.sparkContext.hadoopConfiguration, target)
    commitSnapshot(tableDir, prev.schema, prev.partitionFields,
      snapshotId, Nil, Set.empty,
      Seq(DeleteSpec(target.toString, isEquality = true, ids, n,
        Files.size(target))), operation = "delete")
  }

  /** Stable field-id assignment (the spec's evolution contract): names
    * the table already knows keep their ids, new names allocate past
    * `last-column-id`; a fresh table gets positional 1..N. Shared by
    * [[commitSnapshot]] (schema/spec/bounds ids) and
    * [[IcebergWrite]]'s data staging (parquet field ids in the written
    * files), so files and metadata can never disagree. */
  private[sources] def assignFieldIds(
      prevMetaNode: Option[com.fasterxml.jackson.databind.JsonNode],
      prevIdToName: Option[Map[Int, String]],
      schema: StructType): Map[String, Int] = {
    val known: Map[String, Int] =
      prevIdToName.getOrElse(Map.empty).map(_.swap)
    if (known.isEmpty)
      return schema.fields.zipWithIndex
        .map { case (f, i) => f.name -> (i + 1) }.toMap
    var cursor = math.max(
      prevMetaNode.flatMap(m => Option(m.get("last-column-id")).map(_.asInt))
        .getOrElse(0),
      known.values.maxOption.getOrElse(0))
    schema.fields.map { f =>
      f.name -> known.getOrElse(f.name, { cursor += 1; cursor })
    }.toMap
  }

  /** [[assignFieldIds]] against a table directory's current metadata —
    * the write-path entry ([[IcebergWrite.stageDataFiles]] stamps these
    * ids into the staged parquet). */
  private[sources] def assignFieldIds(tableDir: String,
                                      schema: StructType): Map[String, Int] = {
    val metaDir = Paths.get(tableDir, "metadata")
    val hint = metaDir.resolve("version-hint.text")
    if (!Files.exists(hint))
      return assignFieldIds(None, None, schema)
    val v = Files.readString(hint).trim.toInt
    val meta = mapper.readTree(
      Files.readString(metaDir.resolve(s"v$v.metadata.json")))
    val schemaNode =
      if (meta.has("schemas")) {
        val id = meta.get("current-schema-id").asInt
        meta.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt == id).get
      } else meta.get("schema")
    val idToName = schemaNode.get("fields").elements().asScala
      .map(f => f.get("id").asInt -> f.get("name").asText).toMap
    assignFieldIds(Some(meta), Some(idToName), schema)
  }

  /** A v2 delete file to register: absolute path, kind, equality field
    * ids (equality deletes only), record count, size. */
  private[sources] final case class DeleteSpec(path: String, isEquality: Boolean,
      equalityIds: Seq[Int], recordCount: Long, sizeBytes: Long)

  /** Metadata-side commit shared with [[IcebergWrite]]: carried-forward
    * manifest entries + this snapshot's adds/removes (+ optional v2
    * delete files in a content=1 manifest), manifest list, and the next
    * versioned metadata JSON. `added` rows are
    * (absolutePath, partitionValues, recordCount, sizeBytes). Sequence
    * numbers follow the spec: this snapshot's manifests carry
    * sequence_number = snapshotId; ADDED entries inherit it, carried
    * (EXISTING) entries keep their ORIGINAL sequence explicitly. */
  private[sources] def commitSnapshot(tableDir: String, schema: StructType,
      partFields: Seq[IcebergTransforms.PartField], snapshotId: Long,
      added0: Seq[(String, Map[String, String], Long, Long)],
      removePaths: Set[String],
      deleteAdds: Seq[DeleteSpec] = Nil,
      addFormat: String = "parquet",
      carryDeletes: Boolean = true,
      operation: String = "append"): Unit = {
    val root = Paths.get(tableDir)
    val metaDir = root.resolve("metadata")
    Files.createDirectories(metaDir)
    val prev: Option[IcebergRead.Snapshot] =
      if (Files.exists(metaDir.resolve("version-hint.text")))
        Some(IcebergRead.snapshot(tableDir)) else None
    val prevMetaNode = prev.map { _ =>
      val v = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
      mapper.readTree(Files.readString(metaDir.resolve(s"v$v.metadata.json")))
    }
    val nameToId = assignFieldIds(prevMetaNode, prev.map(_.fieldIdToName),
      schema)
    // resolve THIS commit's partition-spec id against the retained spec
    // history (IcebergWrite.updateSpec appends specs; a commit under an
    // already-known spec reuses its id)
    val prevSpecs = prevMetaNode.toSeq.flatMap(pm =>
      Option(pm.get("partition-specs")).toSeq.flatMap(_.elements().asScala))
    def specFieldsOf(s: com.fasterxml.jackson.databind.JsonNode) =
      s.get("fields").elements().asScala.map(f =>
        (f.get("name").asText, f.get("transform").asText,
          f.get("source-id").asInt)).toSeq
    val wantSpecFields = partFields.map(pf =>
      (pf.name, pf.transform.specName, nameToId(pf.sourceCol)))
    val matchingSpec = prevSpecs.find(specFieldsOf(_) == wantSpecFields)
    val currentSpecId = matchingSpec.map(_.get("spec-id").asInt).getOrElse(
      prevSpecs.map(_.get("spec-id").asInt).maxOption.map(_ + 1).getOrElse(0))
    val written = added0

    // ---- manifest: carried-forward state + this snapshot's changes ---
    val mSchema = manifestSchema(schema, partFields)
    val dfSchema = mSchema.getField("data_file").schema()
    val pSchema = dfSchema.getField("partition").schema()
    // the spec's map<int,...> fields are avro arrays of {key,value}
    // records (logicalType map); resolve each field's non-null branch
    def arraySchemaOf(field: String): Schema =
      dfSchema.getField(field).schema().getTypes.asScala
        .find(_.getType == Schema.Type.ARRAY).get
    val nullCountsSchema = arraySchemaOf("null_value_counts")
    val lowerSchema = arraySchemaOf("lower_bounds")
    val upperSchema = arraySchemaOf("upper_bounds")
    def kvArray(arr: Schema, entries: Seq[(Int, AnyRef)]): GenericData.Array[GenericRecord] = {
      val out = new GenericData.Array[GenericRecord](entries.size, arr)
      entries.foreach { case (k, v) =>
        val r = new GenericData.Record(arr.getElementType)
        r.put("key", k); r.put("value", v)
        out.add(r)
      }
      out
    }
    def entry(status: Int, path: String, pv: Map[String, String], n: Long,
              size: Long, seq: Option[Long] = None, content: Int = 0,
              eqIds: Seq[Int] = Nil, fmt: String = "parquet",
              stats: Option[StatsSkip.FileStats] = None): GenericRecord = {
      val e = new GenericData.Record(mSchema)
      e.put("status", status)
      e.put("snapshot_id", snapshotId)
      seq.foreach(s => e.put("sequence_number", java.lang.Long.valueOf(s)))
      val d = new GenericData.Record(dfSchema)
      d.put("content", content)
      d.put("file_path", path)
      d.put("file_format", fmt.toUpperCase)
      val p = new GenericData.Record(pSchema)
      partFields.foreach { f =>
        val v = pv.get(f.name).orNull
        if (v != null) p.put(f.name,
          IcebergTransforms.avroResultType(f, schema) match {
            case "long" => java.lang.Long.valueOf(v)
            case "int" => Integer.valueOf(v)
            case _ => v
          })
      }
      d.put("partition", p)
      d.put("record_count", n)
      d.put("file_size_in_bytes", size)
      stats.foreach { st =>
        def bounds(m: Map[String, com.fasterxml.jackson.databind.JsonNode]) =
          m.toSeq.flatMap { case (name, node) =>
            nameToId.get(name).flatMap(fid =>
              singleValueBytes(node, schema(name).dataType)
                .map(b => fid -> (java.nio.ByteBuffer.wrap(b): AnyRef)))
          }.sortBy(_._1)
        val (lo, hi) = (bounds(st.min), bounds(st.max))
        if (lo.nonEmpty) d.put("lower_bounds", kvArray(lowerSchema, lo))
        if (hi.nonEmpty) d.put("upper_bounds", kvArray(upperSchema, hi))
        val nulls = st.nullCount.toSeq.flatMap { case (name, c) =>
          nameToId.get(name).map(fid =>
            fid -> (java.lang.Long.valueOf(c): AnyRef))
        }.sortBy(_._1)
        if (nulls.nonEmpty) d.put("null_value_counts", kvArray(nullCountsSchema, nulls))
      }
      if (eqIds.nonEmpty) {
        val l = new java.util.ArrayList[Integer]()
        eqIds.foreach(i => l.add(Integer.valueOf(i)))
        d.put("equality_ids", l)
      }
      e.put("data_file", d)
      e
    }
    // ---- manifests: CARRY untouched manifest files, rewrite only the
    // touched ones, add one new manifest for this snapshot's files —
    // commit cost O(delta + touched manifests), NOT O(live files),
    // which is both the 100 TB shape (an append to a 200k-file table
    // must not rewrite 200k entries) and how conformant writers commit
    // (what lets snapshotDelta attribute changes by added_snapshot_id).
    // Per-attempt unique side-file names: a racing writer must never
    // overwrite the winner's manifests before losing the metadata CAS.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val mlEntries = scala.collection.mutable.ArrayBuffer[GenericRecord]()
    def mlEntry(path: java.nio.file.Path, content: Int, nAdded: Int,
                nExisting: Int, nDeleted: Int,
                specId: Int = currentSpecId): GenericRecord = {
      val ml = new GenericData.Record(manifestListSchema)
      ml.put("manifest_path", path.toString)
      ml.put("manifest_length", Files.size(path))
      ml.put("partition_spec_id", specId)
      ml.put("content", content)
      ml.put("sequence_number", snapshotId)
      ml.put("added_snapshot_id", snapshotId)
      ml.put("added_files_count", Integer.valueOf(nAdded))
      ml.put("existing_files_count", Integer.valueOf(nExisting))
      ml.put("deleted_files_count", Integer.valueOf(nDeleted))
      ml
    }
    def mlInt(m: GenericRecord, field: String): Option[Int] =
      Option(m.getSchema.getField(field)).flatMap(_ => Option(m.get(field)))
        .map(_.asInstanceOf[Number].intValue)

    val prevMl: Seq[GenericRecord] = prevMetaNode.toSeq.flatMap { pm =>
      val curId = pm.get("current-snapshot-id").asLong
      pm.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == curId)
        .map(sn => IcebergRead.avroRows(
          IcebergRead.resolve(tableDir, sn.get("manifest-list").asText)))
        .getOrElse(Nil)
    }
    var rewriteIdx = 0
    prevMl.foreach { m =>
      val content = mlInt(m, "content").getOrElse(0)
      // a manifest whose counts say it holds NO live files is pure
      // tombstone history of an older snapshot — drop it (the spec
      // keeps DELETED entries for one snapshot's changelog only)
      val tombstoneOnly = mlInt(m, "added_files_count").contains(0) &&
        mlInt(m, "existing_files_count").contains(0)
      if (tombstoneOnly) ()
      else if (content == 1) {
        // delete manifests carry verbatim — unless this commit
        // MATERIALIZED the deletes (rewriteDataFiles): the rewritten
        // data no longer contains the suppressed rows
        if (carryDeletes) mlEntries += m
      } else if (removePaths.isEmpty) {
        mlEntries += m // pure append: carry without even reading entries
      } else {
        val mPath = IcebergRead.resolve(tableDir, m.get("manifest_path").toString)
        val rows = IcebergRead.avroRows(mPath)
        def statusOf(e: GenericRecord): Int =
          Option(e.get("status")).map(_.asInstanceOf[Number].intValue).getOrElse(0)
        def absOf(e: GenericRecord): String = {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          IcebergRead.resolve(tableDir, df.get("file_path").toString).toString
        }
        val live = rows.filter(statusOf(_) != 2)
        if (!live.exists(e => removePaths.contains(absOf(e)))) {
          if (live.nonEmpty) mlEntries += m
          // zero live entries: tombstone-only manifest from a legacy
          // list without counts — drop it here where we had to read
        } else {
          // REWRITE this manifest with ITS OWN entry schema (byte-level
          // fidelity for bounds and partition tuples): kept live entries
          // go EXISTING with their original sequence explicit; removed
          // ones go DELETED under this snapshot; prior tombstones drop
          val entrySchema = rows.head.getSchema
          val mSeq = Option(m.get("sequence_number"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          var (nEx, nDel) = (0, 0)
          val newRows = live.map { e =>
            val eSeq = Option(e.getSchema.getField("sequence_number"))
              .flatMap(_ => Option(e.get("sequence_number")))
              .map(_.asInstanceOf[Number].longValue).getOrElse(mSeq)
            e.put("sequence_number", java.lang.Long.valueOf(eSeq))
            if (removePaths.contains(absOf(e))) {
              e.put("status", 2); nDel += 1
              if (e.getSchema.getField("snapshot_id") != null)
                e.put("snapshot_id", java.lang.Long.valueOf(snapshotId))
            } else { e.put("status", 0); nEx += 1 }
            e
          }
          val target = metaDir.resolve(
            f"m-$snapshotId%05d-rw$rewriteIdx%03d-$attempt.avro")
          rewriteIdx += 1
          writeAvro(target, entrySchema, newRows)
          mlEntries += mlEntry(target, 0, 0, nEx, nDel,
            specId = mlInt(m, "partition_spec_id").getOrElse(0))
        }
      }
    }

    // column bounds for the added files come from their parquet footers
    // (same seam as Delta add.stats); ORC adds carry none — conservative
    val hadoopConf = new org.apache.hadoop.conf.Configuration()
    val added = written.map { case (p, pv, n, size) =>
      val st =
        if (addFormat == "parquet")
          DeltaWrite.portableRanges(hadoopConf, Paths.get(p), schema)
            .map(_.stats)
        else None
      entry(1, p, pv, n, size, fmt = addFormat, stats = st)
    }
    if (added.nonEmpty || mlEntries.isEmpty) {
      // the new-files manifest (also written empty for a first, empty
      // snapshot so the list is never zero-manifest)
      val manifestPath = metaDir.resolve(f"m-$snapshotId%05d-$attempt.avro")
      writeAvro(manifestPath, mSchema, added)
      mlEntries += mlEntry(manifestPath, 0, added.size, 0, 0)
    }
    val addedDels = deleteAdds.map { d =>
      entry(1, d.path, Map.empty, d.recordCount, d.sizeBytes,
        content = if (d.isEquality) 2 else 1, eqIds = d.equalityIds)
    }
    if (addedDels.nonEmpty) {
      val delManifestPath = metaDir.resolve(f"md-$snapshotId%05d-$attempt.avro")
      writeAvro(delManifestPath, mSchema, addedDels)
      mlEntries += mlEntry(delManifestPath, 1, addedDels.size, 0, 0)
    }

    val mlPath = metaDir.resolve(f"snap-$snapshotId%05d-$attempt.avro")
    writeAvro(mlPath, manifestListSchema, mlEntries.toSeq)

    // ---- versioned table metadata ------------------------------------
    val meta = mapper.createObjectNode()
    meta.put("format-version", 2)
    meta.put("table-uuid", "graft-iceberg-fixture")
    meta.put("location", tableDir)
    meta.put("last-sequence-number", snapshotId)
    meta.put("last-updated-ms", 0L)
    // STABLE field ids (the spec's core evolution contract): existing
    // names keep the id the table already assigned them — never
    // positional, which would silently rebind columns after a rename,
    // drop, or append; new names allocate past last-column-id
    var idCursor = math.max(
      prevMetaNode.flatMap(m => Option(m.get("last-column-id")).map(_.asInt))
        .getOrElse(0),
      nameToId.values.maxOption.getOrElse(0))
    val nextId = () => { idCursor += 1; idCursor }
    val schemaNode = mapper.createObjectNode()
    schemaNode.put("type", "struct")
    val fieldsArr = schemaNode.putArray("fields")
    schema.fields.foreach { f =>
      val fn = fieldsArr.addObject()
      fn.put("id", nameToId(f.name)); fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.set[com.fasterxml.jackson.databind.JsonNode]("type",
        icebergTypeNode(f.dataType, f.name, nextId))
    }
    // schema HISTORY is retained (the spec keeps every schema version;
    // multiple schemas are also the reader's signal to resolve parquet
    // columns by field id instead of name)
    val prevSchemas = prevMetaNode.toSeq
      .flatMap(m => Option(m.get("schemas")).toSeq
        .flatMap(_.elements().asScala))
    val prevCurrentId = prevMetaNode
      .map(_.get("current-schema-id").asInt).getOrElse(0)
    // names + types only: a nullability drift between two frames does
    // not change column identity and must not flip the table into
    // field-id resolution (fixture files carry no parquet ids)
    val schemaChanged = prev.exists { p =>
      p.schema.fields.map(f => (f.name, f.dataType)).toSeq !=
        schema.fields.map(f => (f.name, f.dataType)).toSeq
    }
    val currentSchemaId =
      if (prev.isEmpty) 0
      else if (schemaChanged)
        prevSchemas.map(_.get("schema-id").asInt).maxOption.getOrElse(0) + 1
      else prevCurrentId
    schemaNode.put("schema-id", currentSchemaId)
    meta.put("last-column-id", idCursor) // includes nested ids
    meta.put("current-schema-id", currentSchemaId)
    val schemas = meta.putArray("schemas")
    if (prev.isEmpty || schemaChanged) {
      prevSchemas.foreach(schemas.add)
      schemas.add(schemaNode)
    } else {
      // same logical schema: keep the history verbatim
      prevSchemas.foreach(schemas.add)
      if (prevSchemas.isEmpty) schemas.add(schemaNode)
    }
    // partition-spec HISTORY is retained (spec evolution: carried
    // manifests keep their original spec's tuples; the id resolved at
    // the top of this method)
    meta.put("default-spec-id", currentSpecId)
    val specs = meta.putArray("partition-specs")
    prevSpecs.foreach(specs.add)
    if (matchingSpec.isEmpty) {
      val spec = specs.addObject()
      spec.put("spec-id", currentSpecId)
      val specFields = spec.putArray("fields")
      partFields.zipWithIndex.foreach { case (pf, i) =>
        val f = specFields.addObject()
        f.put("name", pf.name); f.put("transform", pf.transform.specName)
        f.put("source-id", nameToId(pf.sourceCol))
        f.put("field-id", 1000 + i)
      }
    }
    meta.put("default-sort-order-id", 0)
    meta.putArray("sort-orders").addObject().put("order-id", 0)
      .putArray("fields")
    meta.put("current-snapshot-id", snapshotId)
    val snaps = meta.putArray("snapshots")
    prevMetaNode.foreach(_.get("snapshots").elements().asScala.foreach(snaps.add))
    val s2 = snaps.addObject()
    s2.put("snapshot-id", snapshotId)
    // spec snapshot field `parent-snapshot-id`: the snapshot this commit
    // was built on — after a rollback that is the rollback TARGET, not
    // the last array entry, which is what lets readChanges/readAppends
    // resolve the true lineage instead of assuming array order
    prev.foreach(p => s2.put("parent-snapshot-id", p.snapshotId))
    s2.put("timestamp-ms", 0L)
    s2.put("sequence-number", snapshotId)
    s2.putObject("summary").put("operation", operation)
    s2.put("manifest-list", mlPath.toString)

    val newVersion = prevMetaNode.map(_ =>
      Files.readString(metaDir.resolve("version-hint.text")).trim.toInt + 1).getOrElse(1)
    commitMetadataVersion(metaDir, newVersion, meta)
  }

  /** The versioned-metadata CAS every Iceberg commit path shares
    * ([[commitSnapshot]], [[IcebergWrite.rollback]],
    * [[IcebergWrite.expireSnapshots]]) — the table's single most
    * safety-critical primitive, kept in ONE place. The commit point is
    * creating `v<N>.metadata.json` through [[CommitCas]] — a racing
    * writer that computed the same N fails loudly with the winner's
    * state intact. The version hint is advisory (readers fall back to
    * the max-v* scan), so the winner updating it after the CAS is
    * safe. */
  private[sources] def commitMetadataVersion(metaDir: java.nio.file.Path,
      newVersion: Int,
      meta: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val target = metaDir.resolve(s"v$newVersion.metadata.json")
    if (!CommitCas.publish(target, mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(meta).getBytes(StandardCharsets.UTF_8)))
      throw new java.util.ConcurrentModificationException(
        s"Iceberg metadata version $newVersion was committed concurrently " +
          s"($target exists) — re-read the table and retry")
    Files.write(metaDir.resolve("version-hint.text"),
      newVersion.toString.getBytes(StandardCharsets.UTF_8))
  }
}
