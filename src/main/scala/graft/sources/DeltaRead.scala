package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Read-path interop for Delta Lake tables — open-spec `_delta_log`
  * parsing, no Delta library and no write path.
  *
  * A real user's corpus usually already sits in Delta or Iceberg; this
  * adapter lets the engine scan such a table AS a table (schema from the
  * log, dead files excluded, partition pruning) instead of globbing
  * parquet and re-reading tombstoned data. Everything here derives from
  * the published Delta Transaction Log Protocol
  * (github.com/delta-io/delta, PROTOCOL.md): a table is a directory of
  * parquet data files plus `_delta_log/` holding ordered JSON commits
  * (`%020d.json`, one action per line: `protocol`, `metaData`, `add`,
  * `remove`, `commitInfo`, `txn`) and optional parquet checkpoints
  * (`%020d.checkpoint.parquet` + a `_last_checkpoint` pointer) that
  * compact the actions up to a version.
  *
  * State reconstruction is standard log replay: start from the newest
  * checkpoint (if any), apply later JSON commits in version order; the
  * last `metaData` wins; a file is live iff its last action is `add`.
  * The replay happens on the driver — exactly Delta's own planning seam:
  * the action count is bounded by checkpoint compaction, not table
  * history, and the live-file set is what ANY planner must hold to
  * schedule a scan. The data files are then served through a
  * [[LogFileIndex]], the same FileIndex every format's reads plan over
  * ([[LogScan]]): FileSourceScanExec hands pushed-down
  * partition predicates to `listFiles`, so a partition-pruned scan
  * schedules O(matching partitions) tasks before anything runs. At
  * 100 TB that is the difference between touching 3 of 3000 date
  * partitions and touching all of them.
  *
  * `add.stats`, when a writer recorded them, feed a second skipping
  * channel beside partition pruning: [[LogFileIndex.listFiles]] tests
  * each surviving file's min/max/nullCount against the pushed data
  * predicates ([[StatsSkip]] — conservative, stats are optional in the
  * spec so absence only costs economy, never correctness).
  *
  * Scope (declared, not accidental): reads a static snapshot at the
  * log's head. The v3 reader features a modern Databricks writer enables
  * by default are implemented: deletion vectors (suppressed via a
  * row-position anti-join, see [[DeletionVectors]]) and NAME-mode column
  * mapping (physical parquet names aliased back to logical; stats and
  * partitionValues keys normalized at replay). Id-mode column mapping is
  * rejected loudly rather than mis-mapped.
  */
object DeltaRead {

  /** One live data file: log-relative decoded path + its partition values
    * (raw strings, as the log stores them), size, the optional per-file
    * column stats ([[StatsSkip.FileStats]]) a stats-emitting writer
    * ([[DeltaWrite]] included) recorded in `add.stats`, and the optional
    * deletion vector suppressing rows of this file (merge-on-read). */
  final case class AddFile(path: String, partitionValues: Map[String, String],
                           size: Long,
                           stats: Option[StatsSkip.FileStats] = None,
                           deletionVector: Option[DeletionVectors.Descriptor] = None)

  /** The table's protocol action, tracked so checkpoints re-emit what the
    * log declared (a DV table must keep its reader/writer feature gates). */
  final case class Protocol(minReaderVersion: Int, minWriterVersion: Int,
                            readerFeatures: Seq[String] = Nil,
                            writerFeatures: Seq[String] = Nil)

  /** A `remove` tombstone still present in the log state — the protocol
    * requires checkpoints to RETAIN these (they fence concurrent readers
    * and drive VACUUM retention); dropping them at checkpoint time would
    * silently break both for any engine resuming from our checkpoint. */
  final case class RemoveFile(path: String, deletionTimestamp: Long)

  /** The reconstructed head state of a Delta table. `columnMapping` is
    * logical → physical column name (name-mode column mapping; empty when
    * the table has none): add.partitionValues and add.stats keys arrive
    * PHYSICAL and are normalized to logical during replay, so only the
    * parquet scan itself ever sees physical names. */
  final case class Snapshot(version: Long, schema: StructType,
                            partitionColumns: Seq[String], files: Seq[AddFile],
                            tombstones: Seq[RemoveFile] = Nil,
                            protocol: Protocol = Protocol(1, 2),
                            columnMapping: Map[String, String] = Map.empty,
                            configuration: Map[String, String] = Map.empty,
                            txns: Map[String, Long] = Map.empty,
                            fieldIds: Map[String, Long] = Map.empty) {
    def dataSchema: StructType =
      StructType(schema.fields.filterNot(f => partitionColumns.contains(f.name)))
    def partitionSchema: StructType =
      StructType(partitionColumns.map(c => schema.fields(schema.fieldIndex(c))))
    /** The data schema a parquet scan of this table's files needs:
      * PHYSICAL field names; under id-mode mapping each field also
      * carries `parquet.field.id` so Spark's parquet reader resolves
      * columns by FIELD ID (the id-mode contract — file column names are
      * whatever the original writer used, e.g. an Iceberg conversion's
      * logical names; only the ids are authoritative). */
    def physDataSchema: StructType = {
      def phys(n: String): String = columnMapping.getOrElse(n, n)
      StructType(dataSchema.fields.map { f =>
        val md = fieldIds.get(f.name).map { id =>
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong("parquet.field.id", id).build()
        }.getOrElse(f.metadata)
        f.copy(name = phys(f.name), metadata = md)
      })
    }
    /** a scan's columns under their logical names, in schema order: data
      * columns are read by physical name, partition columns come from
      * the tuples */
    def logicalColumns: Seq[org.apache.spark.sql.Column] =
      schema.fieldNames.toSeq.map(n => org.apache.spark.sql.functions.col(
        if (partitionColumns.contains(n)) n else columnMapping.getOrElse(n, n)).as(n))
  }

  private val mapper = new ObjectMapper()

  /** Replay `_delta_log` and return the table's head snapshot. */
  def snapshot(tableDir: String): Snapshot = snapshotImpl(tableDir, None)

  /** Time travel: the snapshot AS OF `version` (replay truncated there;
    * a checkpoint is only used when it does not overshoot the target).
    * Fails loudly when the version's commit file is gone (vacuumed). */
  def snapshotAt(tableDir: String, version: Long): Snapshot =
    snapshotImpl(tableDir, Some(version))

  /** Scan the table as of `version` — same pruning/DV machinery as the
    * head read, on the historical file set. */
  def readAt(spark: SparkSession, tableDir: String, version: Long): DataFrame = {
    val snap = snapshotAt(tableDir, version)
    readSnapshot(spark, tableDir, snap)
      .select(snap.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }

  /** Batch INCREMENTAL read: the rows appended in versions
    * `(fromVersion, toVersion]` — the consume-new-data half of a CDC
    * pipeline for append-only tables ([[graft.streaming.DeltaTail]] is
    * the streaming sibling; this is the catch-up/backfill form). Each
    * commit's add actions resolve to one distributed parquet read per
    * partition tuple with the log's partition values restored. Only
    * actions with `dataChange=true` count: a compaction/OPTIMIZE commit
    * (adds+removes with dataChange=false) merely rearranges existing
    * rows, so it is skipped whole — the same contract Delta's own
    * streaming source applies. A commit in the range that REMOVES data
    * (dataChange=true remove) or adds deletion vectors fails loudly —
    * "the appends since v" is not well-defined across a rewrite, and
    * silently returning them would double-count. */
  def readAppends(spark: SparkSession, tableDir: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readAppends: fromVersion $fromVersion > toVersion $toVersion")
    val snap = snapshotAt(tableDir, toVersion)
    readFiles(spark, tableDir, snap, appendedFiles(tableDir, snap.columnMapping, fromVersion, toVersion))
  }

  /** The data files versions `(fromVersion, toVersion]` appended, as
    * (log-relative path, partition tuple) with the tuple keys logical
    * under `columnMapping` — the one append decision behind
    * [[readAppends]] and [[graft.streaming.DeltaTail.stream]]. Only
    * `dataChange=true` adds count; a dataChange remove or a deletion
    * vector in the range fails loudly. */
  private[graft] def appendedFiles(tableDir: String, columnMapping: Map[String, String],
                                   fromVersion: Long, toVersion: Long)
      : Seq[(String, Map[String, String])] = {
    val toLogical = columnMapping.map(_.swap)
    ((fromVersion + 1) to toVersion).flatMap { v =>
      commitActions(tableDir, v, "appends").flatMap { node =>
        require(!node.has("remove") || !dataChange(node.get("remove")),
          s"append-only read: version $v carries a dataChange remove action " +
            "(overwrite/delete) — appends-since is not well-defined across a rewrite; " +
            "read the change feed instead")
        Option(node.get("add")).filter(dataChange).map { a =>
          require(!a.has("deletionVector") || a.get("deletionVector").isNull,
            s"append-only read: version $v adds a deletion vector")
          fileAction(a, toLogical)
        }
      }
    }
  }

  /** The actions of commit `v`, one JSON node per log line; a missing
    * commit fails loudly, naming the `what` it was read for. */
  private def commitActions(tableDir: String, v: Long, what: String): Seq[JsonNode] = {
    val f = Paths.get(tableDir, "_delta_log").resolve(f"$v%020d.json")
    require(Files.exists(f), s"commit $v of $tableDir is missing — cannot enumerate its $what")
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty).map(mapper.readTree).toSeq
  }

  /** The version of a `_delta_log` file name, when it names a JSON commit. */
  private[graft] def commitVersion(fileName: String): Option[Long] =
    if (fileName.matches("\\d{20}\\.json")) Some(fileName.stripSuffix(".json").toLong) else None

  /** The rows of log files `files` (log-relative path, partition tuple)
    * under `snap`'s schema, in its column order, partition columns
    * restored from the tuples — one [[LogFileIndex]] relation, the scan
    * behind the incremental, change-feed and tail reads. `extra` data
    * columns (a change file's `_change_type`) follow the table's. */
  private[graft] def readFiles(spark: SparkSession, tableDir: String, snap: Snapshot,
                               files: Seq[(String, Map[String, String])],
                               extra: Seq[StructField] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    val root = Paths.get(tableDir)
    val idx = new LogFileIndex(spark, Seq(root),
      files.map { case (p, pv) => LogScan.LiveFile(root.resolve(p), partition = pv) },
      StructType(snap.physDataSchema.fields ++ extra), snap.partitionSchema, snap.partitionSchema)
    LogScan.scan(spark, idx).select(snap.logicalColumns ++ extra.map(f => col(f.name)): _*)
  }

  /** Change Data Feed read: every row-level change committed in versions
    * `(fromVersion, toVersion]`, with the protocol's CDF columns
    * `_change_type` (insert / delete / update_preimage /
    * update_postimage) and `_commit_version`.
    *
    * Per PROTOCOL.md §Change Data Files: a commit that wrote `cdc`
    * actions describes its changes EXCLUSIVELY through them (the
    * `_change_data/` files carry the data columns + `_change_type`);
    * a commit without cdc actions synthesizes changes from its
    * add/remove actions — adds are inserts, removes are deletes read
    * back from the (still-present, pre-vacuum) removed file. A DV
    * commit without cdc actions is rejected loudly — the suppressed
    * rows cannot be reconstructed from the log alone. */
  def readChangeFeed(spark: SparkSession, tableDir: String,
                     fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion <= toVersion,
      s"readChangeFeed: fromVersion $fromVersion > toVersion $toVersion")
    val snap = snapshotAt(tableDir, toVersion)
    // remove actions carry no partitionValues — track each live file's
    // tuple through a forward replay so a synthesized delete can restore
    // them (fromVersion = -1 reads the feed from table creation)
    val pvByPath = scala.collection.mutable.Map[String, Map[String, String]]()
    if (fromVersion >= 0)
      snapshotAt(tableDir, fromVersion).files
        .foreach(f => pvByPath(f.path) = f.partitionValues)
    val toLogical: Map[String, String] = snap.columnMapping.map(_.swap)

    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    ((fromVersion + 1) to toVersion).foreach { v =>
      val nodes = commitActions(tableDir, v, "changes")
      val cdcs = nodes.flatMap(n => Option(n.get("cdc")))
      // no change type = cdc files, which carry their own _change_type
      def buildFrames(files: Seq[(String, Map[String, String])],
                      changeType: Option[String]): Seq[DataFrame] =
        if (files.isEmpty) Nil
        else Seq(changeType.fold(readFiles(spark, tableDir, snap, files,
            Seq(StructField("_change_type", StringType))))(ct =>
              readFiles(spark, tableDir, snap, files).withColumn("_change_type", lit(ct)))
          .withColumn("_commit_version", lit(v)))
      val adds = nodes.flatMap(n => Option(n.get("add")))
      val removes = nodes.flatMap(n => Option(n.get("remove")))
      if (cdcs.nonEmpty) {
        // cdc actions are authoritative for this commit's changes
        frames ++= buildFrames(cdcs.map(fileAction(_, toLogical)), changeType = None)
      } else {
        // synthesize ONLY from dataChange=true actions (PROTOCOL.md:
        // dataChange=false adds/removes rearrange existing rows — a
        // compaction in the range must contribute NO change rows)
        val dAdds = adds.filter(dataChange)
        val dRemoves = removes.filter(dataChange)
        dAdds.foreach(a => require(
          !a.has("deletionVector") || a.get("deletionVector").isNull,
          s"readChangeFeed: version $v adds a deletion vector without cdc " +
            "actions — its suppressed rows cannot be reconstructed"))
        frames ++= buildFrames(dAdds.map(fileAction(_, toLogical)), changeType = Some("insert"))
        frames ++= buildFrames(
          dRemoves.map { r =>
            val (p, pv) = fileAction(r, toLogical)
            (p, pvByPath.getOrElse(p, pv))
          },
          changeType = Some("delete"))
      }
      // keep the live-file tuple map current for later versions' removes
      adds.foreach(a => pvByPath += fileAction(a, toLogical))
      removes.foreach(r => pvByPath.remove(decodePath(r.get("path").asText)))
    }
    val outSchema = StructType(snap.schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_commit_version", LongType)))
    if (frames.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        outSchema)
    else frames.reduce(_ unionByName _)
      .select(outSchema.fieldNames.map(col).toSeq: _*)
  }

  private def snapshotImpl(tableDir: String, asOf: Option[Long]): Snapshot = {
    val logDir = Paths.get(tableDir, "_delta_log")
    require(Files.isDirectory(logDir), s"$tableDir has no _delta_log — not a Delta table")
    val listing = Files.list(logDir)
    val allCommits =
      try listing.iterator().asScala
        .filter(_.getFileName.toString.matches("\\d{20}\\.json"))
        .toSeq.sortBy(_.getFileName.toString)
      finally listing.close()
    // the checkpoint REFERENCE resolves once, from file names alone —
    // its (potentially large) parquet content is only read during the
    // single replay pass below
    val cpRef = lastCheckpointRef(logDir)
    val commits = asOf match {
      case None => allCommits
      case Some(v) =>
        require(allCommits.exists(_ => true) || cpRef.nonEmpty,
          s"empty _delta_log in $tableDir")
        require(allCommits.exists(p => versionOf(p) == v) ||
          cpRef.exists(_.version == v),
          s"version $v of $tableDir is not in the log (vacuumed or never committed)")
        allCommits.filter(p => versionOf(p) <= v)
    }
    // time travel may only resume from a checkpoint at or below the target
    val checkpoint = cpRef.filter(cp => asOf.forall(cp.version <= _))
    asOf.foreach { v =>
      // every commit in (checkpointVersion, v] must still exist, or the
      // replayed state would silently skip changes
      val have = commits.map(versionOf).toSet
      val start = checkpoint.map(_.version).getOrElse(-1L)
      ((start + 1) to v).foreach(i => require(have.contains(i),
        s"commit $i of $tableDir is missing — cannot reconstruct version $v"))
    }
    val startAfter = checkpoint.map(_.version).getOrElse(-1L)
    val tail = commits.filter(p => versionOf(p) > startAfter)
    require(checkpoint.nonEmpty || commits.nonEmpty, s"empty _delta_log in $tableDir")

    var schema: StructType = null
    var partCols: Seq[String] = Nil
    var protocol: Protocol = Protocol(1, 2)
    var colMap: Map[String, String] = Map.empty // logical -> physical
    var toLogical: Map[String, String] = Map.empty
    var fieldIds: Map[String, Long] = Map.empty // logical -> parquet field id
    var configuration: Map[String, String] = Map.empty
    // last action per path wins — LinkedHashMap keeps add order stable
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    val tomb = scala.collection.mutable.LinkedHashMap[String, RemoveFile]()
    val txns = scala.collection.mutable.LinkedHashMap[String, Long]()
    def applyAction(node: JsonNode): Unit = {
      if (node.has("protocol")) {
        val p = node.get("protocol")
        val rv = p.get("minReaderVersion").asInt
        // readerFeatures (v3) may demand columnMapping etc. — silently
        // ignoring an unknown feature returns wrong rows. deletionVectors
        // IS implemented (applied in read(); see DeletionVectors).
        val feats = Option(p.get("readerFeatures")).toSeq
          .flatMap(_.elements().asScala.map(_.asText()))
        val unsupported = feats.filterNot(
          Set("timestampNtz", "v2Checkpoint", "deletionVectors", "columnMapping"))
        require(rv <= 2 || unsupported.isEmpty,
          s"unsupported Delta reader features: ${unsupported.mkString(",")}")
        val wfeats = Option(p.get("writerFeatures")).toSeq
          .flatMap(_.elements().asScala.map(_.asText()))
        protocol = Protocol(rv,
          Option(p.get("minWriterVersion")).map(_.asInt).getOrElse(2),
          feats, wfeats)
      }
      if (node.has("metaData")) {
        val m = node.get("metaData")
        require(m.get("format").get("provider").asText == "parquet",
          "only parquet-format Delta tables are supported")
        schema = DataType.fromJson(m.get("schemaString").asText).asInstanceOf[StructType]
        partCols = Option(m.get("partitionColumns")).toSeq
          .flatMap(_.elements().asScala.map(_.asText()))
        configuration = Option(m.get("configuration")).filter(_.isObject)
          .map(c => c.fieldNames().asScala.map(k => k -> c.get(k).asText()).toMap)
          .getOrElse(Map.empty)
        val mode = configuration.getOrElse("delta.columnMapping.mode", "none")
        def physicalNames(): Map[String, String] = schema.fields.map { f =>
          require(f.metadata.contains("delta.columnMapping.physicalName"),
            s"columnMapping.mode=$mode but field '${f.name}' has no physicalName")
          f.name -> f.metadata.getString("delta.columnMapping.physicalName")
        }.toMap
        mode match {
          case "none" => colMap = Map.empty; fieldIds = Map.empty
          case "name" =>
            // physical names live in each field's metadata; files store
            // columns (and the log keys partitionValues/stats) by them
            colMap = physicalNames()
            fieldIds = Map.empty
          case "id" =>
            // id mode (tables converted from Iceberg, or upgraded in
            // place on Databricks): files resolve by PARQUET FIELD ID;
            // the log still keys partitionValues/stats by physicalName
            // (the spec requires both metadata keys on every field)
            colMap = physicalNames()
            fieldIds = schema.fields.map { f =>
              require(f.metadata.contains("delta.columnMapping.id"),
                s"columnMapping.mode=id but field '${f.name}' has no field id")
              f.name -> f.metadata.getLong("delta.columnMapping.id")
            }.toMap
          case other =>
            throw new IllegalArgumentException(
              s"unsupported delta.columnMapping.mode '$other' (supported: none, name, id)")
        }
        toLogical = colMap.map(_.swap)
      }
      if (node.has("add")) {
        val a = node.get("add")
        // with column mapping, partitionValues and stats keys are the
        // PHYSICAL names — normalize to logical here so every downstream
        // consumer (partition pruning, stats skipping) stays logical
        val (path, pv) = fileAction(a, toLogical)
        // add.stats is a JSON STRING per the protocol; unparseable or
        // absent stats degrade to "no skipping", never to an error
        val stats = Option(a.get("stats")).filter(_.isTextual).flatMap { s =>
          scala.util.Try(mapper.readTree(s.asText)).toOption.flatMap(StatsSkip.FileStats.parse)
        }.map(_.rename(k => toLogical.getOrElse(k, k)))
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull).map { d =>
          DeletionVectors.Descriptor(d.get("storageType").asText,
            d.get("pathOrInlineDv").asText,
            Option(d.get("offset")).filterNot(_.isNull).map(_.asInt),
            d.get("sizeInBytes").asInt, d.get("cardinality").asLong)
        }
        live(path) = AddFile(path, pv,
          Option(a.get("size")).map(_.asLong).getOrElse(0L), stats, dv)
        tomb.remove(path)
      }
      if (node.has("remove")) {
        val r = node.get("remove")
        val path = decodePath(r.get("path").asText)
        live.remove(path)
        tomb(path) = RemoveFile(path,
          Option(r.get("deletionTimestamp")).map(_.asLong).getOrElse(0L))
      }
      if (node.has("txn")) {
        // setTransaction: latest version per appId — an external streaming
        // writer's idempotence marker; checkpoints must retain these or a
        // resuming writer re-commits data it already delivered
        val t = node.get("txn")
        txns(t.get("appId").asText) = t.get("version").asLong
      }
    }

    // checkpoint rows carry NO ordering guarantee, so replay its
    // protocol/metaData rows first — add normalization (column mapping)
    // depends on metaData being known. File actions then STREAM through
    // applyAction (toLocalIterator) — the driver retains only the
    // decoded AddFile/RemoveFile state, never a parallel JsonNode copy
    // of the whole checkpoint. JSON commits are ordered by the protocol
    // (metaData precedes adds), so they stream as-is.
    checkpoint.foreach(streamCheckpoint(logDir, _)(applyAction))
    tail.foreach { p =>
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).foreach(l => applyAction(mapper.readTree(l)))
    }
    require(schema != null, s"no metaData action found in $tableDir/_delta_log")
    val version = (commits.lastOption.map(versionOf).toSeq ++ checkpoint.map(_.version)).max
    Snapshot(version, schema, partCols, live.values.toSeq, tomb.values.toSeq,
      protocol, colMap, configuration, txns.toMap, fieldIds)
  }

  /** Scan the table at its head snapshot, dead files excluded, partition
    * columns restored from the log's partitionValues, partition predicates
    * pruned at the FileIndex, deletion vectors applied (rows a DV flags
    * never reach the caller — merge-on-read, no file rewrite). */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = snapshot(tableDir)
    readSnapshot(spark, tableDir, snap)
      .select(snap.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }

  private[sources] def readSnapshot(spark: SparkSession, tableDir: String,
                                    snap: Snapshot): DataFrame =
    if (snap.files.forall(_.deletionVector.isEmpty)) scan(spark, tableDir, snap, positions = false)
    else readWithPositions(spark, tableDir, snap).drop("__fp", "__ri")

  /** The [[LogFileIndex]] over the snapshot's live files: one directory
    * per partition tuple, stats renamed to the PHYSICAL names the scan
    * reads (column mapping). */
  private[graft] def fileIndex(spark: SparkSession, tableDir: String, snap: Snapshot): LogFileIndex = {
    val root = Paths.get(tableDir)
    new LogFileIndex(spark, Seq(root), snap.files.map(f => LogScan.LiveFile(root.resolve(f.path),
        Some(f.size), f.partitionValues, f.stats.map(_.rename(n => snap.columnMapping.getOrElse(n, n))))),
      snap.physDataSchema, snap.partitionSchema, snap.partitionSchema)
  }

  /** The snapshot's rows under logical names, plus `__fp`/`__ri` when
    * `positions`. With column mapping the files store PHYSICAL names, so
    * the relation reads those and aliases back — user predicates push
    * through the aliases down to the physical scan. */
  private def scan(spark: SparkSession, tableDir: String, snap: Snapshot,
                   positions: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val base = LogScan.scan(spark, fileIndex(spark, tableDir, snap),
      if (positions) LogScan.Positions else Nil)
    if (snap.columnMapping.isEmpty) base
    else base.select(snap.logicalColumns ++
      (if (positions) Seq(col("__fp"), col("__ri")) else Nil): _*)
  }

  /** The snapshot scan with two extra columns — `__fp` (qualified file
    * path) and `__ri` (physical row index in that file) — and deletion
    * vectors already applied. The physical-position channel both the DV
    * read path and [[DeltaWrite.deleteWhere]] build on. Vectors are
    * DECODED ON EXECUTORS: the driver holds only the descriptors and
    * serialized bitmaps (the state any Delta planner materializes), so a
    * billion-row delete never lists its positions on the driver. */
  private[sources] def readWithPositions(spark: SparkSession, tableDir: String,
                                         snap: Snapshot): DataFrame = {
    import spark.implicits._
    val root = Paths.get(tableDir)
    val base = scan(spark, tableDir, snap, positions = true)
    val dvs = snap.files.flatMap(f => f.deletionVector.map(d =>
      LogScan.qualifiedPath(spark, root.resolve(f.path)) -> DeletionVectors.resolve(root, d)))
    if (dvs.isEmpty) base
    else LogScan.survivors(base, Seq(LogScan.ByPosition(spark.createDataset(dvs)
      .flatMap { case (p, bytes) => DeletionVectors.deserialize(bytes).iterator.map(ri => (p, ri)) }
      .toDF("__del_fp", "__del_ri"), snap.files.flatMap(_.deletionVector).map(_.cardinality).sum)))
  }

  /** An add/cdc/remove action's decoded path and partition tuple, the
    * tuple keys renamed through `toLogical` (column mapping stores them
    * PHYSICAL); a null value stays null. */
  private def fileAction(a: JsonNode, toLogical: Map[String, String])
      : (String, Map[String, String]) =
    (decodePath(a.get("path").asText), Option(a.get("partitionValues")).map { o =>
      o.fieldNames().asScala.map(k =>
        toLogical.getOrElse(k, k) -> (if (o.get(k).isNull) null else o.get(k).asText())).toMap
    }.getOrElse(Map.empty[String, String]))

  /** An add/remove action's dataChange flag — required by the protocol,
    * but a lax writer may omit it; absent means "changes data" (the
    * conservative reading: treating a real change as a no-op loses rows,
    * treating a rearrangement as a change only fails loudly). */
  private def dataChange(action: JsonNode): Boolean =
    Option(action.get("dataChange")).forall(_.asBoolean(true))

  private def versionOf(p: Path): Long =
    p.getFileName.toString.stripSuffix(".json").toLong

  /** `_last_checkpoint` → (version, checkpoint actions). Three layouts,
    * all from PROTOCOL.md §Checkpoints:
    *
    *  - classic single-part `%020d.checkpoint.parquet`;
    *  - multi-part `%020d.checkpoint.%010d.%010d.parquet` (the `parts`
    *    field names the count; every part must exist);
    *  - **V2** `%020d.checkpoint.<uuid>.{parquet|json}`: the top file
    *    holds the non-file actions plus one `checkpointMetadata` action
    *    and `sidecar` actions naming `_sidecars/<uuid>.parquet` files
    *    that carry the add/remove actions. `_last_checkpoint`'s classic
    *    fields carry no file name for these, so the UUID file resolves
    *    by listing (multiple UUID checkpoints at one version are
    *    equivalent by the spec; the lexicographic max is taken for
    *    determinism).
    *
    * The checkpoint parquet holds one action per row in struct columns. */
  private final case class CheckpointRef(version: Long, parquetFiles: Seq[Path],
                                         v2Top: Option[Path])

  /** Resolve `_last_checkpoint` to concrete file paths WITHOUT reading
    * any checkpoint content — snapshotImpl's existence checks stay
    * cheap, and the (potentially multi-GB at production file counts)
    * parquet is read exactly once, by [[streamCheckpoint]]. */
  private def lastCheckpointRef(logDir: Path): Option[CheckpointRef] = {
    val ptr = logDir.resolve("_last_checkpoint")
    if (!Files.exists(ptr)) return None
    val j = mapper.readTree(Files.readString(ptr))
    val v = j.get("version").asLong
    val parts = Option(j.get("parts")).map(_.asInt)
    val classic = logDir.resolve(f"$v%020d.checkpoint.parquet")
    parts match {
      case Some(p) if p > 1 =>
        val files = (1 to p).map(i =>
          logDir.resolve(f"$v%020d.checkpoint.$i%010d.$p%010d.parquet"))
        files.foreach(f => require(Files.exists(f),
          s"checkpoint part $f named by _last_checkpoint is missing"))
        Some(CheckpointRef(v, files, None))
      case _ if Files.exists(classic) =>
        Some(CheckpointRef(v, Seq(classic), None))
      case _ =>
        val pat = (f"$v%020d" + "\\.checkpoint\\.[A-Za-z0-9-]+\\.(parquet|json)").r
        val listing = Files.list(logDir)
        val v2 =
          try listing.iterator().asScala
            .filter(p => pat.pattern.matcher(p.getFileName.toString).matches())
            .toSeq.sortBy(_.getFileName.toString)
          finally listing.close()
        require(v2.nonEmpty,
          s"_last_checkpoint names version $v but no checkpoint file " +
            s"(classic, multi-part, or v2 UUID-named) for it exists in $logDir")
        Some(CheckpointRef(v, Nil, Some(v2.last)))
    }
  }

  /** Stream a checkpoint's actions through `apply` in replay-safe
    * order: the handful of protocol/metaData rows land first (a tiny
    * filtered collect — add normalization depends on them), then every
    * file action streams via `toLocalIterator` so the driver never
    * holds a JsonNode per checkpoint row alongside the decoded state.
    * V2 checkpoints: the small top file is read whole
    * (checkpointMetadata verified against `_last_checkpoint`, missing
    * sidecars reject loudly — resuming from a partial checkpoint would
    * silently drop live files), then the sidecars' file actions
    * stream. */
  private def streamCheckpoint(logDir: Path, ref: CheckpointRef)
                              (apply: JsonNode => Unit): Unit = {
    val spark = SparkSession.active
    def streamRows(df: org.apache.spark.sql.Dataset[String]): Unit = {
      val it = df.toLocalIterator()
      while (it.hasNext) apply(mapper.readTree(it.next()))
    }
    ref.v2Top match {
      case None =>
        val df = readParquet(spark, ref.parquetFiles)
        val hasMeta = df.columns.contains("metaData") ||
          df.columns.contains("protocol")
        if (hasMeta) {
          val metaCond = Seq("protocol", "metaData")
            .filter(df.columns.contains).map(c => s"$c is not null")
          df.filter(metaCond.mkString(" or ")).toJSON.collect()
            .foreach(r => apply(mapper.readTree(r)))
          streamRows(df.filter(metaCond.map(c => s"not ($c)")
            .mkString(" and ")).toJSON)
        } else streamRows(df.toJSON)
      case Some(file) =>
        val top: Seq[JsonNode] =
          if (file.getFileName.toString.endsWith(".json"))
            Files.readAllLines(file, StandardCharsets.UTF_8).asScala
              .filter(_.nonEmpty).map(mapper.readTree).toSeq
          else readParquet(spark, Seq(file)).toJSON.collect()
            .toSeq.map(mapper.readTree)
        val cm = top.flatMap(n => Option(n.get("checkpointMetadata")))
          .filterNot(_.isNull)
        require(cm.nonEmpty,
          s"v2 checkpoint $file has no checkpointMetadata action")
        val declared = cm.head.get("version").asLong
        require(declared == ref.version,
          s"v2 checkpoint $file declares version $declared but " +
            s"_last_checkpoint says ${ref.version}")
        val sidecars = top.flatMap(n => Option(n.get("sidecar")))
          .filterNot(_.isNull)
          .map(s => logDir.resolve("_sidecars").resolve(s.get("path").asText))
        sidecars.foreach(p => require(Files.exists(p),
          s"sidecar $p named by v2 checkpoint $file is missing"))
        val (meta, rest) = top
          .filterNot(n => n.has("checkpointMetadata") || n.has("sidecar"))
          .partition(n => n.has("metaData") || n.has("protocol"))
        meta.foreach(apply)
        rest.foreach(apply)
        if (sidecars.nonEmpty)
          streamRows(readParquet(spark, sidecars).toJSON)
    }
  }

  /** Checkpoint parquet files, read under the first file's footer schema
    * taken on the driver: the footer Spark's own schema inference reads,
    * without the inference job. */
  private def readParquet(spark: SparkSession, files: Seq[Path]): DataFrame = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toUri), spark.sparkContext.hadoopConfiguration))
    val schema = try new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(r.getFooter.getFileMetaData.getSchema) finally r.close()
    spark.read.schema(schema).parquet(files.map(_.toString): _*)
  }

  /** Log paths are RFC 2396 percent-encoded relative paths (or absolute
    * URIs); URI decoding keeps literal `+`/`=` intact where URLDecoder
    * would corrupt them. An unparseable path (e.g. a raw unencoded space
    * from a lax writer) is taken verbatim. */
  private def decodePath(raw: String): String =
    try {
      val u = new java.net.URI(raw)
      if (u.getPath == null || u.getPath.isEmpty) raw else u.getPath
    } catch { case _: java.net.URISyntaxException => raw }
}
