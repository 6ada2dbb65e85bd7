package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/** Read-path interop for Apache Iceberg tables — open-spec metadata
  * parsing, no Iceberg library and no write path. Everything derives from
  * the published Iceberg Table Spec (iceberg.apache.org/spec):
  *
  *   metadata/v<N>.metadata.json   table metadata (schema, partition
  *                                 specs, snapshot log); newest N wins,
  *                                 version-hint.text short-circuits
  *   snapshot.manifest-list        avro, one row per manifest file
  *   manifest file                 avro `manifest_entry` rows: status
  *                                 (1 added / 0 existing / 2 deleted) +
  *                                 `data_file` struct (path, format,
  *                                 partition tuple, counts)
  *
  * State reconstruction is simpler than Delta's log replay: the CURRENT
  * snapshot's manifest list IS the live state — per-snapshot manifests
  * already encode liveness in `status` (deleted entries exist only so
  * incremental consumers can see removals). Live files = entries with
  * status ≠ 2 across the snapshot's data manifests.
  *
  * Iceberg differs from Delta in one load-bearing way: data files CONTAIN
  * the partition source columns (partitioning is a derived transform, not
  * a physical layout contract). So the scan relation exposes NO Spark
  * partition columns; instead its [[LogFileIndex]] prunes file groups on
  * the ordinary pushed dataFilters whose references are identity-partition
  * source columns — the same tuple arithmetic as Delta's partitions.
  *
  * Format v2 row-level deletes (merge-on-read) are APPLIED, not rejected:
  * delete manifests (content=1) contribute position-delete files
  * (file_path + pos rows naming suppressed physical positions) and
  * equality-delete files (rows whose `equality_ids` columns match are
  * gone). Sequence numbers follow the spec's MoR rules — an equality
  * delete at sequence S applies only to data files with sequence < S
  * (position deletes bind to exact file paths, which pins their scope);
  * entry-level sequence numbers override the manifest's inherited one.
  *
  * Scope (declared): reads the current snapshot; format v1/v2; parquet
  * data and delete files; the FULL partition-transform family prunes
  * (identity through the [[LogFileIndex]] tuple; bucket/truncate/year/month/
  * day/hour through [[IcebergTransforms.keepFile]] — equality/IN on
  * every transform, ranges on the order-preserving ones; an unknown
  * transform reads correct, just unpruned); non-primitive schema fields
  * and mixed equality_ids sets are rejected loudly rather than read
  * wrongly. */
object IcebergRead {

  final case class DataFile(path: String, partitionValues: Map[String, String],
                            size: Long, recordCount: Long, seq: Long = 0L,
                            format: String = "parquet",
                            stats: Option[StatsSkip.FileStats] = None)

  /** A live v2 delete file: position (`file_path`+`pos` parquet rows) or
    * equality (rows over the `equalityIds` columns). */
  final case class DeleteFile(path: String, isEquality: Boolean,
                              equalityIds: Seq[Int], seq: Long,
                              recordCount: Long)

  final case class Snapshot(snapshotId: Long, schema: StructType,
                            identityPartitionCols: Seq[String],
                            files: Seq[DataFile],
                            deletes: Seq[DeleteFile] = Nil,
                            fieldIdToName: Map[Int, String] = Map.empty,
                            partitionFields: Seq[IcebergTransforms.PartField] = Nil,
                            resolveById: Boolean = false) {
    def partitionTupleSchema: StructType =
      StructType(identityPartitionCols.map(c => schema.fields(schema.fieldIndex(c))))
    /** The data schema a parquet scan needs: when the table has EVOLVED
      * (multiple schema versions — rename/drop happened), each field
      * carries `parquet.field.id` so Spark resolves columns by FIELD ID
      * (the spec's contract: a renamed column's data lives in files
      * under its OLD name; only the id is authoritative, and a
      * re-added name must NOT capture a dropped column's old data). */
    def scanSchema: StructType =
      if (!resolveById) schema
      else {
        val nameToId = fieldIdToName.map(_.swap)
        StructType(schema.fields.map { f =>
          nameToId.get(f.name).map { id =>
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong)
              .build())
          }.getOrElse(f)
        })
      }
  }

  private val mapper = new ObjectMapper()

  /** Parse the newest table metadata and resolve the current snapshot. */
  def snapshot(tableDir: String): Snapshot = snapshotImpl(tableDir, None)

  /** Time travel: resolve a HISTORICAL snapshot by id — the metadata's
    * `snapshots` array keeps the whole history, so any retained snapshot
    * is readable; an expired/unknown id fails loudly. */
  def snapshotAt(tableDir: String, snapshotId: Long): Snapshot =
    snapshotImpl(tableDir, Some(snapshotId))

  /** Scan the table as of snapshot `snapshotId` — same pruning and
    * row-level-delete machinery as the current-snapshot read. */
  def readAt(spark: SparkSession, tableDir: String, snapshotId: Long): DataFrame =
    readSnap(spark, snapshotAt(tableDir, snapshotId))

  private def snapshotImpl(tableDir: String, asOf: Option[Long]): Snapshot = {
    require(Files.isDirectory(Paths.get(tableDir, "metadata")),
      s"$tableDir has no metadata/ — not an Iceberg table")
    val meta = currentMetadata(tableDir)
    val fv = meta.get("format-version").asInt
    require(fv == 1 || fv == 2, s"unsupported Iceberg format-version $fv")

    val schemaNode =
      if (meta.has("schemas")) {
        val id = meta.get("current-schema-id").asInt
        meta.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt == id)
          .getOrElse(throw new IllegalArgumentException(s"current-schema-id $id not in schemas"))
      } else meta.get("schema")
    val (schema, idToName) = parseSchema(schemaNode)

    val specNode =
      if (meta.has("partition-specs")) {
        val id = meta.get("default-spec-id").asInt
        meta.get("partition-specs").elements().asScala
          .find(_.get("spec-id").asInt == id)
          .getOrElse(throw new IllegalArgumentException(s"default-spec-id $id not in partition-specs"))
          .get("fields")
      } else meta.get("partition-spec")
    // the FULL partition spec: identity fields prune as LogFileIndex
    // tuples (whole predicates over typed tuples), transform
    // fields through IcebergTransforms.keepFile (transform arithmetic
    // on pushed literals); an unknown transform degrades to Opaque —
    // the tuple stays metadata only, never wrong
    val partFields = Option(specNode).toSeq.flatMap(_.elements().asScala).map { f =>
      val src = idToName.getOrElse(f.get("source-id").asInt,
        throw new IllegalArgumentException(
          s"partition source-id ${f.get("source-id").asInt} not in schema"))
      val name = Option(f.get("name")).map(_.asText).getOrElse(src)
      IcebergTransforms.PartField(name, src,
        IcebergTransforms.parseSpec(f.get("transform").asText))
    }
    // identity pruning assumes tuple key == column name (this writer's
    // and Iceberg's default); a renamed identity field keeps reading
    // correct, just unpruned through this channel
    val identityCols = partFields.collect {
      case IcebergTransforms.PartField(name, src, IcebergTransforms.Identity)
        if name == src => src
    }

    val curId = asOf.getOrElse(
      Option(meta.get("current-snapshot-id")).map(_.asLong)
        .filter(_ != -1L)
        .getOrElse(throw new IllegalArgumentException(s"$tableDir has no current snapshot")))
    val snapNode = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId)
      .getOrElse(throw new IllegalArgumentException(
        if (asOf.isDefined) s"snapshot $curId of $tableDir is not retained (expired or never committed)"
        else s"current-snapshot-id $curId not in snapshots"))
    val manifestList = resolve(tableDir, snapNode.get("manifest-list").asText)

    val (files, deletes) = readManifestList(tableDir, manifestList, idToName, schema)
    // multiple schema versions ⇒ rename/drop happened somewhere in the
    // history ⇒ name resolution is no longer sound; switch to field ids
    val evolved = meta.has("schemas") && meta.get("schemas").size() > 1
    Snapshot(curId, schema, identityCols, files, deletes, idToName,
      partFields, resolveById = evolved)
  }

  /** Scan the current snapshot, dead files excluded, identity-partition
    * predicates pruned at the FileIndex, v2 row-level deletes applied. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readSnap(spark, snapshot(tableDir))

  /** Batch INCREMENTAL read: the rows appended by the snapshots AFTER
    * `fromSnapshotId` up to and including `toSnapshotId` — the Iceberg
    * counterpart of [[DeltaRead.readAppends]] (incremental append scan;
    * [[graft.streaming.IcebergTail]] is the streaming sibling). Iceberg
    * makes this cheaper than Delta's log replay: each snapshot's
    * manifests mark their per-snapshot delta explicitly, so the appended
    * files are exactly the status-1 (ADDED) data-manifest entries.
    * Ranges are positions in the metadata's append-ordered `snapshots`
    * array (ids may be arbitrary longs on foreign tables);
    * `fromSnapshotId = 0` means "from before the first retained
    * snapshot". A snapshot in the range that DELETES a file (status 2 —
    * overwrite/rewrite) or adds a delete manifest (MoR delete) fails
    * loudly: "the appends since X" is not well-defined across row
    * removal. Files are read with the CURRENT schema (appended columns
    * surface as NULLs for pre-evolution files, the spec's add-column
    * read semantics). */
  def readAppends(spark: SparkSession, tableDir: String,
                  fromSnapshotId: Long, toSnapshotId: Long): DataFrame =
    readFiles(spark, snapshot(tableDir), snapshotRange(tableDir, currentMetadata(tableDir),
      "readAppends", fromSnapshotId, toSnapshotId).flatMap(addedDataFiles(tableDir, _)))

  /** The rows of data files `fs` (absolute path, file format) under
    * `snap`'s scan schema, in its column order — one [[LogFileIndex]]
    * relation per format, the scan behind the incremental and changelog
    * reads and [[graft.streaming.IcebergTail]]. */
  private[graft] def readFiles(spark: SparkSession, snap: Snapshot,
                               fs: Seq[(String, String)]): DataFrame =
    (if (fs.isEmpty) Seq(Seq.empty[(String, String)]) else fs.groupBy(_._2).values.toSeq)
      .map(g => LogScan.scan(spark, indexOver(spark, snap, g.map(f => LogScan.LiveFile(Paths.get(f._1)))),
        Nil, fileFormat(g.headOption.fold("parquet")(_._2))))
      .reduce(_ unionByName _)
      .select(snap.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)

  /** The snapshots strictly AFTER `fromSnapshotId` up to and including
    * `toSnapshotId`, oldest first — the shared range seam behind
    * [[readAppends]] and [[readChanges]]. Resolution is by the spec's
    * `parent-snapshot-id` ANCESTRY when every non-root snapshot records
    * it (real Iceberg writers and [[IcebergWrite.commitSnapshot]]
    * both do): walking parents from `to` is the only range definition
    * that stays correct after [[IcebergWrite.rollback]] — rolled-over
    * snapshots sit in the metadata array but are NOT ancestors of the
    * new head, and emitting their changes would be silently wrong. A
    * `from` that is retained but not an ancestor of `to` (i.e. it was
    * rolled over) fails loudly. Tables without parent ids fall back to
    * metadata-array order, which is exact for linear lineages (the only
    * kind such a writer can produce through this module).
    * `fromSnapshotId = 0` means "from before the first retained
    * snapshot". */
  private def snapshotRange(tableDir: String, meta: JsonNode, what: String,
                            fromSnapshotId: Long, toSnapshotId: Long)
      : Seq[JsonNode] = {
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    val byId = snaps.map(s => s.get("snapshot-id").asLong -> s).toMap
    def retained(id: Long, label: String): JsonNode =
      byId.getOrElse(id, throw new IllegalArgumentException(
        s"$what: $label snapshot $id of $tableDir is not retained " +
          "(expired or never committed)"))
    val to = retained(toSnapshotId, "to")
    if (fromSnapshotId != 0L) retained(fromSnapshotId, "from")
    val ancestryKnown = snaps.size <= 1 ||
      snaps.drop(1).forall(_.has("parent-snapshot-id"))
    if (ancestryKnown) {
      val buf = scala.collection.mutable.ArrayBuffer[JsonNode]()
      var cur: Option[JsonNode] = Some(to)
      var hitFrom = false
      while (cur.isDefined && !hitFrom) {
        val c = cur.get
        if (fromSnapshotId != 0L &&
            c.get("snapshot-id").asLong == fromSnapshotId) hitFrom = true
        else {
          buf += c
          // a parent expired out of retention terminates the walk: with
          // from = 0 that IS the earliest retained ancestor
          cur = Option(c.get("parent-snapshot-id")).map(_.asLong).flatMap(byId.get)
        }
      }
      require(fromSnapshotId == 0L || hitFrom,
        s"$what: from $fromSnapshotId is not an ancestor of to " +
          s"$toSnapshotId in $tableDir — it was rolled over (or the " +
          "lineage between them expired); re-read from a fresh snapshot")
      buf.reverse.toSeq
    } else {
      def idxOf(id: Long, label: String): Int =
        snaps.indexWhere(_.get("snapshot-id").asLong == id)
      val lo = if (fromSnapshotId == 0L) -1 else idxOf(fromSnapshotId, "from")
      val hi = idxOf(toSnapshotId, "to")
      require(lo <= hi, s"$what: from $fromSnapshotId is after to " +
        s"$toSnapshotId in $tableDir's snapshot order")
      snaps.slice(lo + 1, hi + 1)
    }
  }

  /** One snapshot's manifest-level delta: data files ADDED (status 1,
    * content 0) as (path, format), data-file paths DELETED (status 2),
    * and DELETE FILES added (status 1, content 1/2). The shared seam
    * behind [[addedDataFiles]] and [[readChanges]]. */
  private[graft] def snapshotDelta(tableDir: String,
                                   sn: com.fasterxml.jackson.databind.JsonNode)
      : (Seq[(String, String)], Seq[String], Seq[DeleteFile]) = {
    val sid = sn.get("snapshot-id").asLong
    val added = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val removed = scala.collection.mutable.ArrayBuffer[String]()
    val dels = scala.collection.mutable.ArrayBuffer[DeleteFile]()
    val ml = resolve(tableDir, sn.get("manifest-list").asText)
    // only manifests ADDED BY this snapshot contribute its delta:
    // conformant writers (and this module's commits) CARRY older
    // manifest files verbatim, whose entries keep status 1/0 from
    // their original snapshot — scanning them would re-report every
    // carried file as "added here" (over-counting appends/changes on
    // any real table)
    avroRows(ml)
      .filter(m => longField(m, "added_snapshot_id").contains(sid))
      .foreach { m =>
      val content = intField(m, "content").getOrElse(0)
      val mSeq = longField(m, "sequence_number").getOrElse(0L)
      val mPath = resolve(tableDir, m.get("manifest_path").toString)
      avroRows(mPath).foreach { e =>
        val status = intField(e, "status").getOrElse(0)
        if (status != 0) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val path = resolve(tableDir, df.get("file_path").toString).toString
          if (status == 2) removed += path
          else if (content == 0)
            added += ((path, df.get("file_format").toString.toLowerCase))
          else {
            val fContent = intField(df, "content").getOrElse(1)
            val eqIds = Option(df.getSchema.getField("equality_ids"))
              .flatMap(_ => Option(df.get("equality_ids"))).toSeq.flatMap {
                case l: java.util.List[_] =>
                  l.asScala.map(_.asInstanceOf[Number].intValue).toSeq
                case _ => Nil
              }
            dels += DeleteFile(path, fContent == 2, eqIds,
              longField(e, "sequence_number").getOrElse(mSeq),
              longField(df, "record_count").getOrElse(0L))
          }
        }
      }
    }
    (added.toSeq, removed.toSeq, dels.toSeq)
  }

  /** (absolute path, file format) of every data file snapshot node `sn`
    * ADDED (manifest entry status 1) — the shared per-snapshot delta
    * seam behind [[readAppends]] and [[graft.streaming.IcebergTail]].
    * Loud reject for anything a suppressed row could hide behind:
    * DELETED entries (overwrite / copy-on-write rewrite) and added
    * delete manifests (MoR deletes). */
  private[graft] def addedDataFiles(tableDir: String,
                                    sn: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, String)] = {
    val id = sn.get("snapshot-id").asLong
    val (added, removed, dels) = snapshotDelta(tableDir, sn)
    require(removed.isEmpty, s"append-only read: snapshot $id DELETES a " +
      "file (overwrite/rewrite) — re-read from a fresh snapshot " +
      "instead of silently serving suppressed rows")
    require(dels.isEmpty, s"append-only read: snapshot $id adds a " +
      "DELETE manifest (merge-on-read delete)")
    added
  }

  /** CHANGELOG read: the row-level changes committed by the snapshots
    * after `fromSnapshotId` up to `toSnapshotId`, as the table schema
    * plus `_change_type` ('insert'/'delete') and `_snapshot_id` —
    * Iceberg's incremental changelog scan, and the batch core behind
    * [[graft.streaming.IcebergTail.streamChanges]]
    * ([[DeltaRead.readChangeFeed]]'s sibling). Per snapshot, by its
    * REQUIRED `summary.operation`:
    *
    *  - `append`    → inserts from the added data files (O(delta) scan).
    *  - `replace`   → nothing (compaction rearranges bytes, not rows).
    *  - `overwrite` → deletes = the status-2 files' rows AS VISIBLE in
    *    the parent snapshot (parent delete files pre-applied, so
    *    already-suppressed rows don't re-emit); inserts = added files'
    *    rows. A copy-on-write overwrite therefore emits carried rows as
    *    delete+insert pairs — net-correct, the precision ceiling of a
    *    format without change-data files (Delta's cdc does better; its
    *    reader uses them when present).
    *  - `delete`    → deletes = parent rows the NEW delete files
    *    suppress: position deletes touch only their referenced files
    *    (O(touched)), equality deletes semi-join older-sequence files.
    *
    * Work is O(changed files + delete content) per snapshot — never a
    * full-table diff. */
  def readChanges(spark: SparkSession, tableDir: String,
                  fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val head = snapshot(tableDir)
    val frames = snapshotRange(tableDir, currentMetadata(tableDir), "readChanges",
      fromSnapshotId, toSnapshotId).flatMap(snapshotChanges(spark, tableDir, head, _))
    if (frames.nonEmpty) frames.reduce(_ unionByName _)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(head.schema.fields ++ Seq(
        StructField("_change_type", StringType, nullable = false),
        StructField("_snapshot_id", LongType, nullable = false))))
  }

  /** The changelog of ONE snapshot node `sn` — [[readChanges]]' per-snapshot
    * body, and what [[graft.streaming.IcebergTail.streamChanges]] runs for
    * each new snapshot: the table schema (inserts read under `head`'s) plus
    * `_change_type`/`_snapshot_id`, classified by `summary.operation` as
    * [[readChanges]] describes; None when the snapshot changes no rows by
    * construction (`replace`, or an append of no files). */
  private[graft] def snapshotChanges(spark: SparkSession, tableDir: String, head: Snapshot,
                                     sn: JsonNode): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val schema = head.schema
    val sid = sn.get("snapshot-id").asLong
    val op = Option(sn.get("summary")).flatMap(s => Option(s.get("operation")))
      .map(_.asText).getOrElse(throw new IllegalArgumentException(
        s"snapshot $sid of $tableDir has no summary.operation — " +
          "a changelog cannot classify it"))
    def stamp(df: DataFrame, tpe: String): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_snapshot_id", lit(sid))
    // delete rows are computed against the TRUE parent's state —
    // `parent-snapshot-id` when recorded (correct across rollback),
    // array predecessor only as the linear-lineage fallback
    def parent(): Option[Snapshot] =
      Option(sn.get("parent-snapshot-id")).map(_.asLong)
        .orElse {
          val snaps = currentMetadata(tableDir).get("snapshots").elements().asScala.toSeq
          val i = snaps.indexWhere(_.get("snapshot-id").asLong == sid)
          if (i > 0) Some(snaps(i - 1).get("snapshot-id").asLong) else None
        }
        .map(snapshotAt(tableDir, _))
    val (added, removed, newDels) = snapshotDelta(tableDir, sn)
    val frames = op match {
      case "replace" => Nil // physical rearrangement only
      case "append" =>
        if (added.isEmpty) Nil else Seq(stamp(readFiles(spark, head, added), "insert"))
      case "overwrite" | "delete" =>
        val p = parent()
        val removedSet = removed.toSet
        val delFromRemoved = p.filter(_ => removedSet.nonEmpty).map { ps =>
          val sub = ps.copy(files = ps.files.filter(f => removedSet(f.path)))
          stamp(readWithPositions(spark, sub).drop("__fp", "__ri")
            .select(schema.fieldNames.map(col).toSeq: _*), "delete")
        }
        val delFromNew = p.filter(_ => newDels.nonEmpty).map { ps =>
          // base = parent rows still visible (parent deletes applied)
          // in files the new deletes can touch, minus files already
          // counted through removedSet. Position deletes NAME their
          // files — collect the distinct referenced paths (driver
          // state O(touched files)) so a one-file delete never scans
          // the whole parent snapshot.
          val posDel = newDels.filterNot(_.isEquality)
          val posTouched: Set[String] =
            if (posDel.isEmpty) Set.empty
            else spark.read.schema(PositionDeleteSchema).parquet(posDel.map(_.path): _*)
              .select(col("file_path")).distinct()
              .collect().map(_.getString(0)).toSet
          val touchable = ps.files.filterNot(f => removedSet(f.path))
            .filter(f => posTouched.contains(f.path) ||
              newDels.exists(d => d.isEquality && f.seq < d.seq))
          val sub = ps.copy(files = touchable)
          // the rows the new deletes suppress: position kills, then the
          // equality kills among the rest, so each row reports once
          val base = readWithPositions(spark, sub)
          val (pos, eq) = deletesOf(spark, sub, newDels)
          stamp((pos.map(LogScan.deleteJoin(base, _, "left_semi")).toSeq ++
              eq.map(seqGated(spark, sub, LogScan.survivors(base, pos.toSeq), _, "left_semi")))
            .map(_.select(schema.fieldNames.map(col).toSeq: _*)).reduce(_ unionByName _),
            "delete")
        }
        val ins = if (added.isEmpty) None
          else Some(stamp(readFiles(spark, head, added), "insert"))
        delFromRemoved.toSeq ++ delFromNew.toSeq ++ ins.toSeq
      case other => throw new IllegalArgumentException(
        s"snapshot $sid of $tableDir declares unknown operation '$other'")
    }
    frames.reduceOption(_ unionByName _)
  }

  private def readSnap(spark: SparkSession, snap: Snapshot): DataFrame =
    if (snap.deletes.isEmpty) snapScan(spark, snap, Nil)
    else readWithPositions(spark, snap).drop("__fp", "__ri")
      .select(snap.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)

  /** The snapshot scan with `__fp` (qualified path) / `__ri` (physical
    * row index) columns and row-level deletes applied — the
    * position channel [[IcebergWrite.deleteWhere]] builds on. */
  private[sources] def readWithPositions(spark: SparkSession,
                                         snap: Snapshot): DataFrame = {
    val (pos, eq) = deletesOf(spark, snap, snap.deletes)
    val base = LogScan.survivors(snapScan(spark, snap, LogScan.Positions), pos.toSeq)
    eq.fold(base)(seqGated(spark, snap, base, _, "left_anti"))
  }

  /** The [[LogFileIndex]] over the snapshot's live data files. No Spark
    * partition columns (they live in the data files): pushed DATA
    * filters on identity-partition source columns prune the tuples —
    * sound because every row in a file carries exactly the file's tuple
    * for those columns — and the transform channel
    * ([[IcebergTransforms.keepFile]]) prunes bucket/truncate/temporal
    * tuples. */
  private[graft] def fileIndex(spark: SparkSession, snap: Snapshot): LogFileIndex =
    indexOver(spark, snap, snap.files.map(f =>
      LogScan.LiveFile(Paths.get(f.path), Some(f.size), f.partitionValues, f.stats)))

  private def indexOver(spark: SparkSession, snap: Snapshot,
                        files: Seq[LogScan.LiveFile]): LogFileIndex =
    new LogFileIndex(spark, files.headOption.toSeq.map(_.path.getParent), files,
      snap.scanSchema, tupleSchema = snap.partitionTupleSchema,
      channel = (f, filters) =>
        IcebergTransforms.keepFile(snap.partitionFields, snap.schema, f.partition, filters))

  private def snapScan(spark: SparkSession, snap: Snapshot,
                       meta: Seq[org.apache.spark.sql.Column]): DataFrame = {
    // one FileFormat per snapshot: mixed-format snapshots (legal in the
    // spec, rare in practice) are rejected loudly rather than mis-read
    val fmts = snap.files.map(_.format).distinct
    require(fmts.size <= 1,
      s"mixed data-file formats in one snapshot are not supported: $fmts")
    LogScan.scan(spark, fileIndex(spark, snap), meta, fileFormat(fmts.headOption.getOrElse("parquet")))
  }

  private def fileFormat(fmt: String): org.apache.spark.sql.execution.datasources.FileFormat =
    if (fmt == "orc") new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat()
    else new ParquetFileFormat()

  /** The spec's position-delete columns */
  private val PositionDeleteSchema =
    StructType(Seq(StructField("file_path", StringType), StructField("pos", LongType)))

  /** Merge-on-read: `dels` in the applier's two forms, read under known
    * schemas (the spec's position-delete columns, the snapshot's types for
    * the equality columns), so building a read starts no Spark job.
    * Position deletes name data files by manifest path, translated to the
    * scan's qualified form through a tiny broadcast lookup (O(live
    * files)); equality deletes match null-safe (the spec's rule), gated
    * to data files whose sequence number is below the delete's
    * ([[seqGated]]). The driver holds only file METADATA; the delete
    * content streams through distributed joins, broadcast when the
    * manifests' record counts say it is small. */
  private def deletesOf(spark: SparkSession, snap: Snapshot, dels: Seq[DeleteFile])
      : (Option[LogScan.ByPosition], Option[LogScan.ByKey]) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val pos = dels.filterNot(_.isEquality)
    val eqs = dels.filter(_.isEquality)
    val byPos = if (pos.isEmpty) None else Some(LogScan.ByPosition(
      spark.read.schema(PositionDeleteSchema).parquet(pos.map(_.path): _*)
        .join(broadcast(snap.files.map(f => (f.path,
          LogScan.qualifiedPath(spark, Paths.get(f.path)))).toDF("__abs", "__qual")),
          col("file_path") === col("__abs"))
        .select(col("__qual").as("__del_fp"), col("pos").as("__del_ri")),
      pos.map(_.recordCount).sum))
    val byKey = if (eqs.isEmpty) None else Some {
      val idSets = eqs.map(_.equalityIds).distinct
      require(idSets.size == 1,
        s"multiple distinct equality_ids sets are not supported: $idSets")
      val names = idSets.head.map(id => snap.fieldIdToName.getOrElse(id,
        throw new IllegalArgumentException(s"equality_ids field $id not in schema")))
      val keySchema = StructType(names.map(snap.schema(_)))
      LogScan.ByKey(eqs.map(f => spark.read.schema(keySchema).parquet(f.path)
          .select(names.map(n => col(n).as(s"__del_$n")) :+ lit(f.seq).as("__del_seq"): _*))
        .reduce(_ unionByName _), names, nullSafe = true,
        col("__data_seq") < col("__del_seq"), eqs.map(_.recordCount).sum)
    }
    (byPos, byKey)
  }

  /** `base` (a positions scan over `snap.files`) joined `how` against
    * equality deletes `e`, each row carrying its file's sequence number
    * (`__data_seq`) for the gate. */
  private def seqGated(spark: SparkSession, snap: Snapshot, base: DataFrame,
                       e: LogScan.ByKey, how: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val seqs = snap.files.map(f => (LogScan.qualifiedPath(spark, Paths.get(f.path)), f.seq))
      .toDF("__sq_fp", "__data_seq")
    LogScan.deleteJoin(base.join(broadcast(seqs), col("__fp") === col("__sq_fp")), e, how)
      .drop("__sq_fp", "__data_seq")
  }

  /** Iceberg METADATA TABLES — the debugging surface every Iceberg user
    * touches (`SELECT * FROM tbl.snapshots` etc.), served as
    * DataFrames over the table's own metadata (driver cost O(metadata),
    * the state any planner already holds):
    *
    *  - `snapshots`: committed_at, snapshot_id, parent_id, operation,
    *    manifest_list — one row per retained snapshot;
    *  - `history`: made_current_at, snapshot_id, parent_id,
    *    is_current_ancestor — lineage flags resolved by the SAME
    *    parent-walk the changelog uses (rolled-over snapshots show
    *    is_current_ancestor = false);
    *  - `files`: content, file_path, file_format, record_count,
    *    file_size_in_bytes, partition (string map) — the CURRENT
    *    snapshot's live data + delete files;
    *  - `manifests`: path, length, partition_spec_id, content,
    *    added_snapshot_id for the current snapshot's manifest list. */
  def metadataTable(spark: SparkSession, tableDir: String,
                    table: String): DataFrame = {
    import spark.implicits._
    lazy val meta = currentMetadata(tableDir)
    lazy val snaps = meta.get("snapshots").elements().asScala.toSeq
    def parentOf(sn: JsonNode): Option[Long] =
      Option(sn.get("parent-snapshot-id")).map(_.asLong)
    table match {
      case "snapshots" =>
        snaps.map { sn =>
          (sn.get("timestamp-ms").asLong,
            sn.get("snapshot-id").asLong,
            parentOf(sn),
            Option(sn.get("summary")).flatMap(s => Option(s.get("operation")))
              .map(_.asText).getOrElse(""),
            sn.get("manifest-list").asText)
        }.toDF("committed_at", "snapshot_id", "parent_id", "operation",
          "manifest_list")
      case "history" =>
        val currentId = meta.get("current-snapshot-id").asLong
        val byId = snaps.map(s => s.get("snapshot-id").asLong -> s).toMap
        val ancestors = scala.collection.mutable.Set[Long]()
        var cur = byId.get(currentId)
        while (cur.isDefined) {
          val c = cur.get
          ancestors += c.get("snapshot-id").asLong
          cur = parentOf(c).flatMap(byId.get)
        }
        snaps.map { sn =>
          val id = sn.get("snapshot-id").asLong
          (sn.get("timestamp-ms").asLong, id, parentOf(sn), ancestors(id))
        }.toDF("made_current_at", "snapshot_id", "parent_id",
          "is_current_ancestor")
      case "files" =>
        val snap = snapshot(tableDir)
        val data = snap.files.map(f => (0, f.path, f.format, f.recordCount,
          f.size, f.partitionValues))
        val dels = snap.deletes.map(d =>
          (if (d.isEquality) 2 else 1, d.path, "parquet", d.recordCount,
            0L, Map.empty[String, String]))
        (data ++ dels).toDF("content", "file_path", "file_format",
          "record_count", "file_size_in_bytes", "partition")
      case "manifests" =>
        val currentId = meta.get("current-snapshot-id").asLong
        val sn = snaps.find(_.get("snapshot-id").asLong == currentId)
          .getOrElse(throw new IllegalArgumentException(
            s"current-snapshot-id $currentId not in snapshots of $tableDir"))
        avroRows(resolve(tableDir, sn.get("manifest-list").asText)).map { m =>
          (m.get("manifest_path").toString,
            Option(m.getSchema.getField("manifest_length"))
              .flatMap(_ => Option(m.get("manifest_length")))
              .map(_.asInstanceOf[Number].longValue).getOrElse(0L),
            intField(m, "partition_spec_id").getOrElse(0),
            intField(m, "content").getOrElse(0),
            longField(m, "added_snapshot_id").getOrElse(0L))
        }.toDF("path", "length", "partition_spec_id", "content",
          "added_snapshot_id")
      case other => throw new IllegalArgumentException(
        s"unknown metadata table '$other' " +
          "(supported: snapshots, history, files, manifests)")
    }
  }

  // ---- metadata internals --------------------------------------------

  /** The snapshot nodes metadata version `v` carries that version `v-1`
    * did not, by id, in array order, each with its id — what one commit
    * added to the lineage (nothing for a property change, a rollback or
    * an expiry). Version 1 contributes everything. Reads the previous
    * version from disk: the spec keeps superseded metadata files in place,
    * so the diff is restart-safe without stream-side state. */
  private[graft] def newSnapshots(tableDir: String, v: Long): Seq[(Long, JsonNode)] = {
    def snaps(version: Long): Seq[(Long, JsonNode)] = {
      val p = Paths.get(tableDir, "metadata", s"v$version.metadata.json")
      if (!Files.exists(p)) Nil
      else Option(mapper.readTree(Files.readString(p)).get("snapshots")).toSeq
        .flatMap(_.elements().asScala.map(sn => sn.get("snapshot-id").asLong -> sn))
    }
    val prevIds = if (v <= 1) Set.empty[Long] else snaps(v - 1).map(_._1).toSet
    snaps(v).filterNot { case (id, _) => prevIds(id) }
  }

  /** The version of a `metadata/` file name, when it names a versioned
    * table-metadata file (`v<N>.metadata.json`). */
  private[graft] def metadataVersion(fileName: String): Option[Long] =
    if (fileName.matches("v\\d+\\.metadata\\.json"))
      Some(fileName.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    else None

  private def currentMetadata(tableDir: String): JsonNode =
    mapper.readTree(Files.readString(currentMetadataFile(Paths.get(tableDir, "metadata"))))

  private def currentMetadataFile(metaDir: Path): Path = {
    val hint = metaDir.resolve("version-hint.text")
    if (Files.exists(hint)) {
      val v = Files.readString(hint).trim.toInt
      val p = metaDir.resolve(s"v$v.metadata.json")
      require(Files.exists(p), s"version-hint names $p but it is missing")
      p
    } else {
      val listing = Files.list(metaDir)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
        .maxByOption(_.getFileName.toString.stripPrefix("v")
          .stripSuffix(".metadata.json").toInt)
        .getOrElse(throw new IllegalArgumentException(s"no v*.metadata.json in $metaDir"))
      finally listing.close()
    }
  }

  /** Iceberg schema JSON → Spark StructType + field-id→name map (top
    * level only — identity partition transforms and equality_ids bind to
    * top-level source columns in this reader's scope). */
  private def parseSchema(node: JsonNode): (StructType, Map[Int, String]) = {
    require(node.get("type").asText == "struct", "top-level schema must be a struct")
    val ids = scala.collection.mutable.Map[Int, String]()
    val fields = node.get("fields").elements().asScala.map { f =>
      val name = f.get("name").asText
      ids(f.get("id").asInt) = name
      StructField(name, icebergType(f.get("type"), name),
        nullable = !f.get("required").asBoolean)
    }.toSeq
    (StructType(fields), ids.toMap)
  }

  /** Any Iceberg type JSON → Spark type: primitives, plus the nested
    * struct / list / map shapes (spec "Schemas and Data Types" — nested
    * types are objects with their own `type` discriminator). */
  private def icebergType(t: JsonNode, at: String): DataType = {
    if (t.isTextual) return primitiveType(t, at)
    require(t.isObject && t.has("type"),
      s"field '$at': malformed Iceberg type node $t")
    t.get("type").asText match {
      case "struct" =>
        StructType(t.get("fields").elements().asScala.map { f =>
          val name = f.get("name").asText
          StructField(name, icebergType(f.get("type"), s"$at.$name"),
            nullable = !f.get("required").asBoolean)
        }.toSeq)
      case "list" =>
        ArrayType(icebergType(t.get("element"), s"$at.element"),
          containsNull = !t.get("element-required").asBoolean)
      case "map" =>
        MapType(icebergType(t.get("key"), s"$at.key"),
          icebergType(t.get("value"), s"$at.value"),
          valueContainsNull = !t.get("value-required").asBoolean)
      case other =>
        throw new IllegalArgumentException(
          s"field '$at': unsupported Iceberg nested type '$other'")
    }
  }

  private def primitiveType(t: JsonNode, at: String): DataType = {
    require(t.isTextual,
      s"field '$at': expected a primitive Iceberg type, got $t")
    t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "string" => StringType
      case "binary" => BinaryType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case dec if dec.startsWith("decimal(") =>
        val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other =>
        throw new IllegalArgumentException(s"field '$at': unsupported Iceberg type '$other'")
    }
  }

  private def readManifestList(tableDir: String, manifestList: Path,
                               idToName: Map[Int, String],
                               schema: StructType): (Seq[DataFile], Seq[DeleteFile]) = {
    val live = scala.collection.mutable.ArrayBuffer[DataFile]()
    val dels = scala.collection.mutable.ArrayBuffer[DeleteFile]()
    avroRows(manifestList).foreach { m =>
      val content = intField(m, "content").getOrElse(0)
      require(content == 0 || content == 1,
        s"unknown manifest content=$content")
      val mSeq = longField(m, "sequence_number").getOrElse(0L)
      val mPath = resolve(tableDir, m.get("manifest_path").toString)
      avroRows(mPath).foreach { e =>
        val status = intField(e, "status").getOrElse(0)
        if (status != 2) {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          // spec: ADDED entries inherit the manifest's sequence number,
          // EXISTING (carried) entries carry their original explicitly
          val eSeq = longField(e, "sequence_number").getOrElse(mSeq)
          val fContent = intField(df, "content").getOrElse(0)
          val fmt = df.get("file_format").toString.toLowerCase
          require(fmt == "parquet" || (fmt == "orc" && content == 0),
            s"unsupported file_format $fmt (parquet everywhere, orc for data files)")
          val path = resolve(tableDir, df.get("file_path").toString).toString
          val size = longField(df, "file_size_in_bytes").getOrElse(0L)
          val rc = longField(df, "record_count").getOrElse(0L)
          if (content == 0) {
            require(fContent == 0,
              s"data manifest entry with delete content=$fContent")
            val pv = Option(df.get("partition")) match {
              case Some(rec: GenericRecord) =>
                rec.getSchema.getFields.asScala.map { f =>
                  f.name -> Option(rec.get(f.name)).map(_.toString).orNull
                }.toMap
              case _ => Map.empty[String, String]
            }
            live += DataFile(path, pv, size, rc, eSeq, fmt,
              parseBounds(df, rc, idToName, schema))
          } else {
            require(fContent == 1 || fContent == 2,
              s"delete manifest entry with content=$fContent (want 1=position, 2=equality)")
            val eqIds = Option(df.getSchema.getField("equality_ids"))
              .flatMap(_ => Option(df.get("equality_ids"))).toSeq.flatMap {
                case l: java.util.List[_] =>
                  l.asScala.map(_.asInstanceOf[Number].intValue).toSeq
                case _ => Nil
              }
            require(fContent == 1 || eqIds.nonEmpty,
              s"equality delete file $path has no equality_ids")
            dels += DeleteFile(path, fContent == 2, eqIds, eSeq, rc)
          }
        }
      }
    }
    (live.toSeq, dels.toSeq)
  }

  /** Manifest `lower_bounds`/`upper_bounds`/`null_value_counts` →
    * [[StatsSkip.FileStats]] — Iceberg's second scan-economy channel
    * beside identity-partition pruning, mirroring Delta's `add.stats`.
    * Bounds are the spec's per-field-id single-value binary serialization
    * (Appendix D: ints/longs/floats/doubles/dates little-endian, strings
    * UTF-8, booleans one byte); field ids resolve to logical names
    * through the schema. Truncated string bounds stay VALID bounds by
    * the spec (lower truncates down, upper rounds the last char up), so
    * [[StatsSkip]]'s interval arithmetic is sound over them. Any
    * unparseable piece degrades to "no stat for that column" — skipping
    * is economy, never correctness. */
  private def parseBounds(df: GenericRecord, recordCount: Long,
                          idToName: Map[Int, String],
                          schema: StructType): Option[StatsSkip.FileStats] = {
    def kvPairs(field: String): Seq[(Int, AnyRef)] =
      Option(df.getSchema.getField(field)).flatMap(_ => Option(df.get(field)))
        .toSeq.flatMap {
          case l: java.util.List[_] => l.asScala.toSeq.collect {
            case r: GenericRecord =>
              (r.get("key").asInstanceOf[Number].intValue, r.get("value"))
          }
          case m: java.util.Map[_, _] => m.asScala.toSeq.map { case (k, v) =>
            (k.toString.toInt, v.asInstanceOf[AnyRef])
          }
          case _ => Nil
        }
    def decode(fieldId: Int, raw: AnyRef): Option[(String, JsonNode)] = {
      import com.fasterxml.jackson.databind.node.{BooleanNode, DoubleNode, LongNode, TextNode}
      val name = idToName.get(fieldId).getOrElse(return None)
      val dt = schema.fields.find(_.name == name).map(_.dataType).getOrElse(return None)
      val bytes: Array[Byte] = raw match {
        case bb: java.nio.ByteBuffer =>
          val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b); b
        case a: Array[Byte] => a
        case _ => return None
      }
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val node: Option[JsonNode] = dt match {
        case org.apache.spark.sql.types.IntegerType if bytes.length == 4 =>
          Some(LongNode.valueOf(bb.getInt.toLong))
        case org.apache.spark.sql.types.LongType if bytes.length == 8 =>
          Some(LongNode.valueOf(bb.getLong))
        case org.apache.spark.sql.types.FloatType if bytes.length == 4 =>
          Some(DoubleNode.valueOf(bb.getFloat.toDouble))
        case org.apache.spark.sql.types.DoubleType if bytes.length == 8 =>
          Some(DoubleNode.valueOf(bb.getDouble))
        case org.apache.spark.sql.types.StringType =>
          Some(TextNode.valueOf(new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
        case org.apache.spark.sql.types.BooleanType if bytes.length == 1 =>
          Some(BooleanNode.valueOf(bytes(0) != 0))
        case org.apache.spark.sql.types.DateType if bytes.length == 4 =>
          Some(TextNode.valueOf(
            java.time.LocalDate.ofEpochDay(bb.getInt.toLong).toString))
        case _ => None
      }
      node.map(name -> _)
    }
    val lo = kvPairs("lower_bounds").flatMap { case (id, v) => decode(id, v) }.toMap
    val hi = kvPairs("upper_bounds").flatMap { case (id, v) => decode(id, v) }.toMap
    val nulls = kvPairs("null_value_counts").flatMap { case (id, v) =>
      idToName.get(id).flatMap(n => v match {
        case x: Number => Some(n -> x.longValue)
        case _ => None
      })
    }.toMap
    if (lo.isEmpty && hi.isEmpty && nulls.isEmpty) None
    else Some(StatsSkip.FileStats(recordCount, lo, hi, nulls))
  }

  private[graft] def avroRows(p: Path): Seq[GenericRecord] = {
    val reader = DataFileReader.openReader(p.toFile, new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toSeq finally reader.close()
  }

  private def intField(r: GenericRecord, name: String): Option[Int] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))
      .map(_.asInstanceOf[Number].intValue)
  private def longField(r: GenericRecord, name: String): Option[Long] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))
      .map(_.asInstanceOf[Number].longValue)

  /** Spec paths are full URIs; tolerate relative paths from lax writers. */
  private[graft] def resolve(tableDir: String, raw: String): Path = {
    val uri = try new java.net.URI(raw) catch { case _: java.net.URISyntaxException => null }
    if (uri != null && uri.getScheme != null) Paths.get(uri)
    else if (raw.startsWith("/")) Paths.get(raw)
    else Paths.get(tableDir).resolve(raw)
  }
}
