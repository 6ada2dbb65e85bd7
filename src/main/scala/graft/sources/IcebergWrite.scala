package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Write-path interop for Apache Iceberg tables — the distributed
  * complement of [[IcebergRead]], with the metadata commit core
  * ([[commitSnapshot]]: avro manifests + versioned metadata JSON per the
  * published Iceberg Table Spec; no Iceberg library) that
  * [[IcebergFixture]]'s test tables commit through too.
  *
  * Iceberg's layout twist shapes the data write: data files must CONTAIN
  * the partition source columns, while Spark's `partitionBy` drops them
  * into directory names. The writer therefore stages ONE distributed
  * `partitionBy` write over SHADOW columns (`__part_<c>` copies), so
  * every executor writes its own one-partition-tuple files in parallel
  * with the real columns intact, then moves the staged files under
  * `data/<c>=<v>/` and commits a manifest whose entries carry the decoded
  * tuple and the footer's record count.
  *
  * Modes mirror [[DeltaWrite]]: `append`, `overwrite` (status-2 every
  * previously-live file), `overwritePartitions` (status-2 only the tuples
  * being rewritten — dynamic partition overwrite). Scope: single-writer;
  * the full transform family ([[IcebergTransforms]]); NULL partition
  * values round-trip as null tuples; schema evolves via mergeSchema
  * appends and [[renameColumn]]/[[dropColumn]].
  */
object IcebergWrite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Commit `df` as the table's next snapshot; returns the snapshot id.
    *
    * `partCols` terms are either bare column names (identity) or
    * transform calls in Iceberg's SQL syntax — `bucket(8, key)`,
    * `truncate(4, s)`, `days(ts)`, `years(ts)`, `months(ts)`,
    * `hours(ts)` ([[IcebergTransforms.parseField]]); a table created
    * with transforms lays its files out per TRANSFORMED tuple while the
    * data files keep the source columns, and reads prune through the
    * same transform arithmetic.
    *
    * `mergeSchema = true` — schema evolution on write, mirroring
    * [[DeltaWrite.write]]: the incoming frame may APPEND nullable
    * columns (field ids are positional, so appending keeps every
    * existing column's id stable — the spec's add-column evolution);
    * the committed metadata carries the widened schema, and older data
    * files simply lack the new columns, which the name-resolving scan
    * serves as NULLs. Dropping/retyping stays a loud reject. */
  def write(df: DataFrame, tableDir: String, partCols: Seq[String] = Nil,
            mode: String = "append", mergeSchema: Boolean = false): Long = {
    require(Set("append", "overwrite", "overwritePartitions")(mode),
      s"unknown Iceberg write mode '$mode'")
    val root = Paths.get(tableDir)
    val existing =
      if (Files.exists(root.resolve("metadata/version-hint.text")))
        Some(IcebergRead.snapshot(tableDir)) else None
    val snapshotId = existing.map(_ => nextSnapshotId(tableDir)).getOrElse(1L)
    val fields = existing.map(_.partitionFields)
      .getOrElse(partCols.map(IcebergTransforms.parseField))
    fields.foreach(f => require(df.schema.fieldNames.contains(f.sourceCol),
      s"partition source column ${f.sourceCol} (${f.transform.specName}) " +
        "not in the frame"))
    // the schema the commit declares: on evolution, the appended columns
    // are FORCED nullable (older files lack them — readers must be allowed
    // to produce NULLs), keeping existing fields exactly as the table had
    var commitSchema: StructType = df.schema
    existing.foreach { snap =>
      val want = snap.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (mergeSchema && got != want) {
        require(got.take(want.size) == want,
          s"mergeSchema can only APPEND columns (field ids are positional); " +
            s"got ${got.mkString(",")}, table has ${want.mkString(",")}")
        commitSchema = StructType(snap.schema.fields ++
          df.schema.fields.drop(want.size).map(_.copy(nullable = true)))
      } else {
        require(got == want,
          s"schema mismatch vs $tableDir metadata: got ${got.mkString(",")}, table has ${want.mkString(",")}" +
            (if (mergeSchema) "" else " (pass mergeSchema = true to append columns)"))
      }
    }

    val added = stageDataFiles(df, root, fields, snapshotId)

    val removePaths: Set[String] = mode match {
      case "append" => Set.empty
      case "overwrite" => existing.toSeq.flatMap(_.files.map(_.path)).toSet
      case "overwritePartitions" =>
        val touched = added.map(_.partition).toSet
        existing.toSeq.flatMap(_.files
          .filter(f => touched(f.partitionValues)).map(_.path)).toSet
    }

    commitSnapshot(tableDir, commitSchema, fields, snapshotId,
      added, removePaths,
      operation = if (mode == "append") "append" else "overwrite")
    snapshotId
  }

  /** Distributed stage of `df`'s data files through [[DataFiles.stage]],
    * the shared seam behind [[write]], [[rewriteDataFiles]], and
    * [[mergeClauses]]: shadow partition columns keep the real ones in the
    * data files as the spec requires; staged files move under
    * `data/<c>=<v>/` and each footer is read once, for the record count
    * and the column bounds. */
  private def stageDataFiles(df: DataFrame, root: Path,
                             fields: Seq[IcebergTransforms.PartField],
                             snapshotId: Long): Seq[AddedFile] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    // stamp the table's STABLE field ids into the staged parquet
    // (spark.sql.parquet.fieldId.write.enabled is on by default): after
    // a rename/drop the reader resolves columns by id, and files
    // written without ids would reject loudly under an evolved table
    val ids = assignFieldIds(root.toString, df.schema)
    val stamped = df.select(df.schema.fields.toSeq.map { f =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putLong("parquet.field.id", ids(f.name).toLong).build()
      col(f.name).as(f.name, md)
    }: _*)
    val shadows = fields.map(f => s"__part_${f.name}")
    val staged = fields.foldLeft(stamped)((d, f) => d.withColumn(
      s"__part_${f.name}", IcebergTransforms.shadowColumn(f, df.schema)))
    DataFiles.stage(staged, root, shadows, Some(df.schema)) { (w, i) =>
      // the staged directories, already hive-escaped by the writer (a raw
      // '/' or '..' in a value cannot nest or escape the table root);
      // uuid in the name: racing writers that both computed snapshotId
      // must not overwrite each other's data files before the metadata
      // CAS decides the winner
      val dirs = w.rel.split('/').dropRight(1).map(_.stripPrefix("__part_"))
      ("data" +: dirs).mkString("/") +
        f"/part-$snapshotId%05d-$i%05d-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
    }.map { s =>
      // a null source value transforms to a NULL tuple — the spec
      // stores it as such (manifest partition field is optional); the
      // dir name keeps hive's sentinel, the manifest is authoritative
      val path = root.resolve(s.rel)
      AddedFile(path.toString,
        s.partition.map { case (c, v) => c.stripPrefix("__part_") -> v },
        s.ranges.fold(DataFiles.rowCount(conf, path))(_.numRecords), s.size,
        s.ranges.map(_.stats))
    }
  }

  /** rewriteDataFiles — Iceberg's compaction maintenance action, the
    * [[DeltaWrite.optimize]] counterpart (Spark-procedure name from the
    * Iceberg docs). Two modes, same semantics contract: NO logical row
    * changes, committed as an `operation=replace` snapshot (status-2 the
    * rewritten files, status-1 the replacements) that an append-only
    * tail rejects loudly and time travel steps over cleanly.
    *
    *  - **bin-pack** (`zorderBy = Nil`): per partition tuple, live files
    *    smaller than `targetFileBytes` are coalesced (one task — hence
    *    one file — per touched tuple).
    *  - **Z-ORDER** (1-4 columns, unpartitioned tables): ALL live files
    *    re-laid-out through the deterministic [[graft.ops.ZCluster]]
    *    core shared with Delta and the tx log.
    *
    * When the table carries ROW-LEVEL DELETES (position or equality),
    * compaction switches to a full MATERIALIZING rewrite: every live
    * file is rewritten with the deletes applied and the delete files are
    * DROPPED from the new snapshot (`carryDeletes = false`) — folding
    * accumulated MoR debt back into clean data files, which is exactly
    * why a 100 TB MoR table schedules compaction. (A partial rewrite
    * could not drop a delete file other surviving data files still
    * need.)
    *
    * Returns (live files before, live files after). */
  def rewriteDataFiles(spark: org.apache.spark.sql.SparkSession,
                       tableDir: String,
                       targetFileBytes: Long = 128L << 20,
                       zorderBy: Seq[String] = Nil): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val snap = IcebergRead.snapshot(tableDir)
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fields = snap.partitionFields
    val before = snap.files.size
    if (snap.files.isEmpty) return (0, 0)
    val materializing = snap.deletes.nonEmpty

    val rewritten: Seq[IcebergRead.DataFile] =
      if (zorderBy.nonEmpty) {
        require(fields.isEmpty,
          "z-order rewrite targets unpartitioned tables (bin-pack handles partitioned)")
        val missing = zorderBy.filterNot(snap.schema.fieldNames.contains)
        require(missing.isEmpty, s"z-order columns not in table: $missing")
        snap.files
      } else if (materializing) snap.files
      else {
        // files written under a RETIRED partition spec are always
        // rewrite candidates — compaction is how an updateSpec'd table
        // migrates its history into the current layout (and regains
        // pruning on it)
        val fieldNames = fields.map(_.name).toSet
        snap.files.groupBy(_.partitionValues).values.flatMap { fs =>
          val oldSpec = fs.filter(_.partitionValues.keySet != fieldNames)
          val c = (fs.filter(_.size < targetFileBytes) ++ oldSpec).distinct
          if (c.size >= 2 || oldSpec.nonEmpty) c else Nil
        }.toSeq
      }
    if (rewritten.isEmpty) return (before, before)

    val sub = snap.copy(files = rewritten)
    val df = IcebergRead.readWithPositions(spark, sub).drop("__fp", "__ri")
      .select(snap.schema.fieldNames.map(col).toSeq: _*)
    val bytes = rewritten.map(_.size).sum
    val parts = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val laid =
      if (zorderBy.nonEmpty) graft.ops.ZCluster.layout(df, zorderBy, parts)
      else if (fields.nonEmpty) df.repartition(parts,
        fields.map(f => IcebergTransforms.shadowColumn(f, df.schema)): _*)
      else df.repartition(parts)

    val snapshotId = nextSnapshotId(tableDir)
    val added = stageDataFiles(laid, Paths.get(tableDir), fields, snapshotId)
    commitSnapshot(tableDir, snap.schema, fields, snapshotId,
      added, rewritten.map(_.path).toSet,
      carryDeletes = !materializing, operation = "replace")
    (before, before - rewritten.size + added.size)
  }

  /** MERGE (upsert): WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT
    * * — [[DeltaWrite.merge]]'s counterpart and, like it, the
    * UPDATE-all/INSERT-all clause list of [[mergeClauses]]: carried rows
    * of the touched files are anti-joined out and unioned with every
    * source row in one distributed write. Duplicate source keys reject
    * loudly. Returns the committed snapshot id (head unchanged on an
    * empty source). */
  def merge(spark: org.apache.spark.sql.SparkSession, tableDir: String,
            source: DataFrame, keyCols: Seq[String]): Long =
    mergeClauses(spark, tableDir, source, keyCols,
      Seq(MergeClauses.MatchedUpdate(), MergeClauses.NotMatchedInsert()))

  /** MERGE with the FULL clause family ([[MergeClauses]]) —
    * [[DeltaWrite.mergeClauses]]'s Iceberg counterpart, same clause
    * semantics and 3-job scale shape ([[MergeClauses.touchedFiles]]):
    * (1) source key [min,max] bounds prune candidate files through the
    * manifest column bounds ([[StatsSkip]]), (2) a distributed semi-join
    * of the surviving files' rows (row-level deletes pre-applied)
    * against the distinct source keys finds the exactly-touched files
    * (driver holds O(touched) paths), (3) a copy-on-write rewrite of
    * those files; a NOT-MATCHED-BY-SOURCE clause touches every live
    * file. Committed as `operation=overwrite` (Iceberg's summary
    * operation for row-replacing commits). Untouched files are never
    * rewritten; delete files are carried (they may still suppress rows in
    * untouched files; against the rewritten files they are inert — the
    * new files' sequence number is newer). Returns the committed snapshot
    * id (head unchanged when nothing was touched or inserted). */
  def mergeClauses(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                   source: DataFrame, keyCols: Seq[String],
                   clauses: Seq[MergeClauses.Clause],
                   aliases: (String, String) = ("t", "s")): Long = {
    val snap = IcebergRead.snapshot(tableDir)
    MergeClauses.validate(snap.schema, source, keyCols, clauses)
    def scan(files: Seq[IcebergRead.DataFile]): DataFrame =
      IcebergRead.readWithPositions(spark, snap.copy(files = files))
    val touched = MergeClauses.touchedFiles[IcebergRead.DataFile](source, keyCols,
        clauses, snap.schema, snap.files, _.stats,
        f => LogScan.qualifiedPath(spark, Paths.get(f.path)), scan) match {
      case None => return snap.snapshotId
      case Some(fs) => fs
    }

    val target =
      if (touched.isEmpty) MergeClauses.emptyFrame(spark, snap.schema)
      else scan(touched).drop("__fp", "__ri")
        .select(snap.schema.fieldNames.toSeq.map(col): _*)
    val (out, _) = MergeClauses(target, source, keyCols, clauses, snap.schema, aliases)

    val snapshotId = nextSnapshotId(tableDir)
    val added = stageDataFiles(out, Paths.get(tableDir),
      snap.partitionFields, snapshotId)
    if (touched.isEmpty && added.isEmpty) return snap.snapshotId
    commitSnapshot(tableDir, snap.schema,
      snap.partitionFields, snapshotId, added,
      touched.map(_.path).toSet, operation = "overwrite")
    snapshotId
  }

  /** Merge-on-read DELETE via v2 POSITION-delete files: rows matching
    * `condition` are suppressed without rewriting any data file — the
    * next snapshot carries a content=1 delete manifest naming a
    * `file_path`/`pos` parquet, exactly the spec's copy-free delete.
    *
    * Scale shape, mirroring [[DeltaWrite.deleteWhere]]: matching
    * (file, position) pairs come from the DISTRIBUTED scan (physical
    * positions via `_metadata.row_index`, existing deletes pre-applied so
    * re-deletes accumulate instead of resurrect), and the delete parquet
    * is written by the cluster — the driver never materializes deleted
    * positions, only the file metadata for the commit.
    *
    * Returns the committed snapshot id (head unchanged when nothing
    * matched — an empty DELETE is a no-op, not an empty snapshot). */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                  condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val snap = IcebergRead.snapshot(tableDir)
    // reverse map: qualified scan path → the manifest's absolute path
    // (delete files reference data files by their manifest path form)
    val toAbs: Map[String, String] =
      snap.files.map(f => LogScan.qualifiedPath(spark, Paths.get(f.path)) -> f.path).toMap
    val absLk = {
      import spark.implicits._
      toAbs.toSeq.toDF("__q", "file_path")
    }
    val matches = IcebergRead.readWithPositions(spark, snap)
      .filter(condition)
      .join(org.apache.spark.sql.functions.broadcast(absLk),
        col("__fp") === col("__q"))
      .select(col("file_path"), col("__ri").as("pos"))
    val n = matches.count()
    if (n == 0L) return snap.snapshotId

    val snapshotId = nextSnapshotId(tableDir)
    val root = Paths.get(tableDir)
    // uuid in the name, as for data files: a racing writer that computed
    // the same snapshotId must not replace (or, losing the CAS, delete)
    // the winner's delete file
    val target = root.resolve(
      f"data/delete-$snapshotId%05d-${java.util.UUID.randomUUID().toString.take(8)}-pos.parquet")
    // spec recommendation: sort position deletes by (file_path, pos) so
    // readers can merge-scan them
    val size = DataFiles.writeOne(matches.orderBy("file_path", "pos"), target)

    commitSnapshot(tableDir, snap.schema,
      snap.partitionFields, snapshotId, Nil, Set.empty,
      Seq(DeleteSpec(target.toString, isEquality = false, Nil, n, size)),
      operation = "delete")
    snapshotId
  }

  /** The next free snapshot id: max over the FULL retained lineage + 1,
    * NOT current + 1 — after a [[rollback]] the current snapshot is an
    * older one, and current+1 would collide with a rolled-over id,
    * corrupting the lineage with duplicate ids. */
  private def nextSnapshotId(tableDir: String): Long = {
    val metaDir = Paths.get(tableDir).resolve("metadata")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = mapper.readTree(
      Files.readString(metaDir.resolve(s"v$version.metadata.json")))
    meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong).max + 1
  }

  /** UPDATE the table's PARTITION SPEC — Iceberg's spec evolution
    * (`ALTER TABLE ... ADD/REPLACE PARTITION FIELD`): a metadata-only
    * commit appending a new spec (spec-id = max + 1) and repointing
    * `default-spec-id`. Existing data files keep their old spec's
    * layout and tuples (their manifests are CARRIED verbatim — reads
    * stay correct, old files simply stop pruning through the retired
    * identity channel); commits after this one lay files out under the
    * new spec, and a later [[rewriteDataFiles]] migrates old files
    * into it. `partCols` takes the same terms as [[write]]
    * (`days(ts)`, `bucket(8, key)`, bare names). Returns the new
    * metadata version. */
  def updateSpec(tableDir: String, partCols: Seq[String]): Int = {
    val snap = IcebergRead.snapshot(tableDir)
    val fields = partCols.map(IcebergTransforms.parseField)
    fields.foreach(f => require(snap.schema.fieldNames.contains(f.sourceCol),
      s"partition source column ${f.sourceCol} (${f.transform.specName}) " +
        s"not in $tableDir's schema"))
    val nameToId = snap.fieldIdToName.map(_.swap)
    val metaDir = Paths.get(tableDir).resolve("metadata")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = mapper.readTree(
      Files.readString(metaDir.resolve(s"v$version.metadata.json")))
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val prevSpecs = Option(meta.get("partition-specs")).toSeq
      .flatMap(_.elements().asScala).toSeq
    val newId = prevSpecs.map(_.get("spec-id").asInt).maxOption
      .map(_ + 1).getOrElse(0)
    val arr = meta.putArray("partition-specs")
    prevSpecs.foreach(arr.add)
    val spec = arr.addObject()
    spec.put("spec-id", newId)
    val sf = spec.putArray("fields")
    fields.zipWithIndex.foreach { case (pf, i) =>
      val f = sf.addObject()
      f.put("name", pf.name); f.put("transform", pf.transform.specName)
      f.put("source-id", nameToId(pf.sourceCol))
      f.put("field-id", 1000 + i)
    }
    meta.put("default-spec-id", newId)
    commitMetadataVersion(metaDir, version + 1, meta)
    version + 1
  }

  /** RENAME a column — metadata-only, the spec's core evolution
    * strength: the field keeps its ID, so every existing data file
    * (whose parquet columns carry the OLD name but the same id) serves
    * the renamed column through field-id resolution with zero rewrite.
    * Appends after the rename use the new name; partition specs bind by
    * source-id and stay valid. Returns the new metadata version. */
  def renameColumn(tableDir: String, from: String, to: String): Int =
    evolveSchema(tableDir) { fields =>
      val names = fields.map(_.get("name").asText)
      require(names.contains(from), s"rename: column '$from' not in $tableDir")
      require(!names.contains(to), s"rename: column '$to' already exists in $tableDir")
      fields.foreach { f =>
        if (f.get("name").asText == from)
          f.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("name", to)
      }
      fields
    }

  /** DROP a column — metadata-only: the field leaves the current
    * schema (its id is never reused — [[assignFieldIds]]
    * allocates past last-column-id), data files keep the bytes, and a
    * column RE-ADDED under the same name gets a fresh id, so old data
    * can never leak into it (field-id resolution serves NULLs). A
    * partition source column refuses to drop. Returns the new metadata
    * version. */
  def dropColumn(tableDir: String, name: String): Int =
    evolveSchema(tableDir, protectPartitionSources = Some(name)) { fields =>
      require(fields.exists(_.get("name").asText == name),
        s"drop: column '$name' not in $tableDir")
      require(fields.size > 1, s"drop: '$name' is the only column of $tableDir")
      fields.filterNot(_.get("name").asText == name)
    }

  /** Shared metadata-only schema evolution commit: append a NEW schema
    * version (old ones retained — their presence is also the reader's
    * switch to field-id resolution), repoint current-schema-id, CAS. */
  private def evolveSchema(tableDir: String,
                           protectPartitionSources: Option[String] = None)
      (transform: Seq[com.fasterxml.jackson.databind.JsonNode] =>
        Seq[com.fasterxml.jackson.databind.JsonNode]): Int = {
    val metaDir = Paths.get(tableDir).resolve("metadata")
    require(Files.exists(metaDir.resolve("version-hint.text")),
      s"$tableDir is not an Iceberg table")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = mapper.readTree(
      Files.readString(metaDir.resolve(s"v$version.metadata.json")))
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val legacySingle = !meta.has("schemas")
    val currentId =
      if (legacySingle) 0 else meta.get("current-schema-id").asInt
    val currentSchema =
      if (legacySingle) meta.get("schema")
      else meta.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt == currentId)
        .getOrElse(throw new IllegalArgumentException(
          s"current-schema-id $currentId not in schemas of $tableDir"))
    val oldFields = currentSchema.get("fields").elements().asScala.toSeq

    protectPartitionSources.foreach { name =>
      val id = oldFields.find(_.get("name").asText == name)
        .map(_.get("id").asInt)
      val specSources = Option(meta.get("partition-specs")).toSeq
        .flatMap(_.elements().asScala)
        .flatMap(s => s.get("fields").elements().asScala)
        .map(_.get("source-id").asInt).toSet
      require(!id.exists(specSources.contains),
        s"drop: column '$name' is a partition source of $tableDir")
    }

    val newFields = transform(oldFields.map(_.deepCopy[
      com.fasterxml.jackson.databind.JsonNode]()))
    val maxSchemaId =
      if (legacySingle) 0
      else meta.get("schemas").elements().asScala
        .map(_.get("schema-id").asInt).max
    val newSchema = mapper.createObjectNode()
    newSchema.put("type", "struct")
    newSchema.put("schema-id", maxSchemaId + 1)
    val fa = newSchema.putArray("fields")
    newFields.foreach(fa.add)
    if (legacySingle) {
      val old = meta.get("schema")
        .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      old.put("schema-id", 0)
      val arr = meta.putArray("schemas")
      arr.add(old); arr.add(newSchema)
      meta.remove("schema")
    } else meta.get("schemas")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .add(newSchema)
    meta.put("current-schema-id", maxSchemaId + 1)
    commitMetadataVersion(metaDir, version + 1, meta)
    version + 1
  }

  /** ROLLBACK to a retained snapshot — Iceberg's `rollback_to_snapshot`
    * and [[DeltaWrite.restore]]'s counterpart, but METADATA-ONLY: the
    * spec resolves a table's state entirely through
    * `current-snapshot-id`, so rolling back is one CAS-fenced metadata
    * version that repoints it (no add/remove synthesis, no file IO —
    * this is the operational payoff of Iceberg keeping every snapshot
    * self-describing). The rolled-over snapshots stay in the lineage
    * (time-travelable, and re-rollback-able) until
    * [[expireSnapshots]] drops them. Fails loudly on an
    * expired/unknown id. Returns the new metadata version. */
  def rollback(tableDir: String, toSnapshotId: Long): Int = {
    val metaDir = Paths.get(tableDir).resolve("metadata")
    require(Files.exists(metaDir.resolve("version-hint.text")),
      s"$tableDir is not an Iceberg table")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = mapper.readTree(
      Files.readString(metaDir.resolve(s"v$version.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val ids = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong).toSeq
    require(ids.contains(toSnapshotId),
      s"rollback target $toSnapshotId of $tableDir is not retained " +
        s"(have ${ids.mkString(",")})")
    if (meta.get("current-snapshot-id").asLong == toSnapshotId) return version
    val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    newMeta.put("current-snapshot-id", toSnapshotId)
    commitMetadataVersion(metaDir, version + 1, newMeta)
    version + 1
  }

  /** Expire all but the newest `keepLast` snapshots — Iceberg's
    * `expireSnapshots` maintenance action (Table Spec: table metadata
    * `snapshots` may drop entries no longer reachable; files referenced
    * by NO retained snapshot may then be physically removed). The
    * [[DeltaWrite.vacuum]] counterpart for the other format: Delta
    * separates logical remove (tombstones) from physical reclaim;
    * Iceberg bundles both behind snapshot expiry, because time travel —
    * not a tombstone list — is what holds old files live.
    *
    * Mechanics: the newest `keepLast` snapshot entries (which always
    * include `current-snapshot-id` — snapshots are appended in commit
    * order) are carried into a new metadata version (CAS, same fence as
    * every commit); every manifest-list, manifest, data and delete file
    * reachable ONLY from the expired entries is deleted from disk.
    * Retained inventories count LIVE entries only (status 0/1): each
    * snapshot's manifests are self-describing — every file the snapshot
    * serves appears as a live entry in its own manifests — so a
    * status-2 (deleted) entry in a retained snapshot protects nothing
    * (older snapshots that still serve that file are either retained,
    * and list it live themselves, or expired, surrendering it).
    * Expired inventories count ALL statuses (deletion candidates are
    * conservative the other way). Driver cost is O(metadata), never
    * O(rows).
    *
    * Returns the number of files physically deleted. */
  def expireSnapshots(tableDir: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val metaDir = Paths.get(tableDir).resolve("metadata")
    require(Files.exists(metaDir.resolve("version-hint.text")),
      s"$tableDir is not an Iceberg table")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim.toInt
    val meta = mapper.readTree(
      Files.readString(metaDir.resolve(s"v$version.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    if (snaps.size <= keepLast) return 0
    val (expired0, kept0) = snaps.splitAt(snaps.size - keepLast)
    val currentId = meta.get("current-snapshot-id").asLong
    // after a rollback the current snapshot may sit OUTSIDE the newest-N
    // suffix; it is always retained (expiring the state a reader resolves
    // through would be nonsense), in its original lineage position
    val (currentKeep, expired) =
      if (kept0.exists(_.get("snapshot-id").asLong == currentId))
        (Nil, expired0)
      else expired0.partition(_.get("snapshot-id").asLong == currentId)
    val kept = currentKeep ++ kept0

    // file inventory of one snapshot: its manifest list, every manifest,
    // and the data/delete files its entries reference. For RETAINED
    // snapshots only LIVE entries (status 0 existing / 1 added) hold a
    // file — a status-2 (DELETED) entry is removal bookkeeping, and with
    // suffix retention the file's content is only served by snapshots
    // that are all older, hence all expired. For EXPIRED snapshots every
    // referenced path is a deletion candidate (the retained set is what
    // protects survivors).
    def inventory(sn: com.fasterxml.jackson.databind.JsonNode,
                  liveOnly: Boolean): Set[Path] = {
      val out = scala.collection.mutable.Set[Path]()
      val ml = IcebergRead.resolve(tableDir, sn.get("manifest-list").asText)
      out += ml
      IcebergRead.avroRows(ml).foreach { m =>
        val mPath = IcebergRead.resolve(tableDir, m.get("manifest_path").toString)
        out += mPath
        IcebergRead.avroRows(mPath).foreach { e =>
          val status = Option(e.get("status"))
            .map(_.asInstanceOf[Number].intValue).getOrElse(0)
          if (!liveOnly || status != 2) {
            val df = e.get("data_file")
              .asInstanceOf[org.apache.avro.generic.GenericRecord]
            out += IcebergRead.resolve(tableDir, df.get("file_path").toString)
          }
        }
      }
      out.toSet
    }
    val retained = kept.flatMap(inventory(_, liveOnly = true)).toSet
    val toDelete = expired.flatMap(inventory(_, liveOnly = false)).toSet -- retained

    // commit the truncated snapshot list FIRST (readers of the new
    // version never reference the doomed files), then reclaim
    val newMeta = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val arr = newMeta.putArray("snapshots")
    kept.foreach(arr.add)
    commitMetadataVersion(metaDir, version + 1, newMeta)
    toDelete.count(Files.deleteIfExists(_))
  }

  // ---- metadata commit core: schema, manifests, manifest list, CAS ----

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

  /** Stable field-id assignment (the spec's evolution contract): names
    * the table already knows keep their ids, new names allocate past
    * `last-column-id`; a fresh table gets positional 1..N. Shared by
    * [[commitSnapshot]] (schema/spec/bounds ids) and [[stageDataFiles]]
    * (parquet field ids in the written files), so files and metadata can
    * never disagree. */
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
    * the write-path entry ([[stageDataFiles]] stamps these
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

  /** A data file to register: absolute path, partition tuple, record
    * count, size, and its column statistics when its footer gave them
    * (none for ORC). */
  private[sources] final case class AddedFile(path: String,
      partition: Map[String, String], records: Long, size: Long,
      stats: Option[StatsSkip.FileStats])

  /** A v2 delete file to register: absolute path, kind, equality field
    * ids (equality deletes only), record count, size. */
  private[sources] final case class DeleteSpec(path: String, isEquality: Boolean,
      equalityIds: Seq[Int], recordCount: Long, sizeBytes: Long)

  /** The metadata-side commit every snapshot-producing write shares
    * (and [[IcebergFixture]]'s test-authoring snapshots): carried-forward
    * manifest entries + this snapshot's adds/removes (+ optional v2
    * delete files in a content=1 manifest), manifest list, and the next
    * versioned metadata JSON. Sequence numbers follow the spec: this
    * snapshot's manifests carry sequence_number = snapshotId; ADDED
    * entries inherit it, carried (EXISTING) entries keep their ORIGINAL
    * sequence explicitly. */
  private[sources] def commitSnapshot(tableDir: String, schema: StructType,
      partFields: Seq[IcebergTransforms.PartField], snapshotId: Long,
      adds: Seq[AddedFile],
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
    // the avro side files this attempt writes, deleted again if it loses
    val written = scala.collection.mutable.ArrayBuffer[Path]()
    def writeSide(file: Path, schema: Schema, rows: Seq[GenericRecord]): Unit = {
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, file.toFile)
      written += file
      try rows.foreach(w.append) finally w.close()
    }
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
          writeSide(target, entrySchema, newRows)
          mlEntries += mlEntry(target, 0, 0, nEx, nDel,
            specId = mlInt(m, "partition_spec_id").getOrElse(0))
        }
      }
    }

    val added = adds.map(a =>
      entry(1, a.path, a.partition, a.records, a.size, fmt = addFormat, stats = a.stats))
    if (added.nonEmpty || mlEntries.isEmpty) {
      // the new-files manifest (also written empty for a first, empty
      // snapshot so the list is never zero-manifest)
      val manifestPath = metaDir.resolve(f"m-$snapshotId%05d-$attempt.avro")
      writeSide(manifestPath, mSchema, added)
      mlEntries += mlEntry(manifestPath, 0, added.size, 0, 0)
    }
    val addedDels = deleteAdds.map { d =>
      entry(1, d.path, Map.empty, d.recordCount, d.sizeBytes,
        content = if (d.isEquality) 2 else 1, eqIds = d.equalityIds)
    }
    if (addedDels.nonEmpty) {
      val delManifestPath = metaDir.resolve(f"md-$snapshotId%05d-$attempt.avro")
      writeSide(delManifestPath, mSchema, addedDels)
      mlEntries += mlEntry(delManifestPath, 1, addedDels.size, 0, 0)
    }

    val mlPath = metaDir.resolve(f"snap-$snapshotId%05d-$attempt.avro")
    writeSide(mlPath, manifestListSchema, mlEntries.toSeq)

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
    commitMetadataVersion(metaDir, newVersion, meta,
      (adds.map(_.path) ++ deleteAdds.map(_.path)).map(Paths.get(_)) ++ written)
  }

  /** The versioned-metadata CAS every Iceberg commit path shares
    * ([[commitSnapshot]], [[rollback]], [[expireSnapshots]]) — the table's single most
    * safety-critical primitive, kept in ONE place. The commit point is
    * creating `v<N>.metadata.json` through [[CommitCas.publishOrFail]] — a racing
    * writer that computed the same N first deletes `placed`, the files
    * its attempt wrote (data and delete files, manifests, manifest list),
    * then fails loudly with the winner's state intact. The version hint
    * is advisory (readers fall back to the max-v* scan), so the winner
    * updating it after the CAS is safe. */
  private[sources] def commitMetadataVersion(metaDir: java.nio.file.Path,
      newVersion: Int,
      meta: com.fasterxml.jackson.databind.JsonNode,
      placed: Seq[java.nio.file.Path] = Nil): Unit = {
    CommitCas.publishOrFail(metaDir.resolve(s"v$newVersion.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta)
        .getBytes(StandardCharsets.UTF_8), placed,
      s"Iceberg metadata version $newVersion", "re-read the table and retry")
    Files.write(metaDir.resolve("version-hint.text"),
      newVersion.toString.getBytes(StandardCharsets.UTF_8))
  }
}
