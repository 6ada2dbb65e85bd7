package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Write-path interop for Delta Lake tables — the distributed complement
  * of [[DeltaRead]] (which replays `_delta_log`s other engines wrote).
  * Everything derives from the published Delta Transaction Log Protocol
  * (github.com/delta-io/delta PROTOCOL.md); no Delta library.
  *
  * The DATA write is [[DataFiles.stage]]: one distributed
  * `df.write.partitionBy(...)` into a per-attempt staging directory under
  * the table root — every executor writes its own files in parallel,
  * exactly like a native parquet sink. Hive-style `col=value` directories
  * come out of the writer already matching the protocol's recommended
  * layout, with the partition columns dropped from the data files; the
  * staged files are then MOVED (same filesystem, metadata-only) under the
  * table root and recorded as `add` actions, and the staging directory is
  * removed even when the write fails. The commit JSON is written last, to
  * a temp name renamed into `%020d.json` — readers replaying the log can
  * never observe a commit whose data files are not in place.
  *
  * Three modes, mirroring the writer semantics a Delta user relies on:
  *  - `append`        — add actions only.
  *  - `overwrite`     — `remove` every previously-live file, then add.
  *  - `overwritePartitions` — dynamic partition overwrite (Delta's
  *    `replaceWhere` on partition values / Spark's
  *    `partitionOverwriteMode=dynamic`): remove only the live files whose
  *    partitionValues tuple is among the tuples being written.
  *
  * Per-file `add.stats` (numRecords / minValues / maxValues / nullCount)
  * are extracted from each written file's parquet footer and carried
  * through checkpoints, feeding [[StatsSkip]]'s file skipping on the read
  * side — see [[DataFiles.portableRanges]] for the emitted type coverage.
  *
  * Scope (declared): optimistic single-attempt writer — version =
  * head + 1 published through a hard-link CAS, so a racing writer LOSES
  * LOUDLY (`ConcurrentModificationException`, log intact) instead of
  * tearing the history; the retry loop is the caller's (the engine's own
  * multi-writer story is TxLogTable).
  * Appends require the incoming schema to match the table's log schema
  * exactly (no evolution). NULL partition values round-trip: the writer's
  * `__HIVE_DEFAULT_PARTITION__` directory is decoded back to a JSON null
  * partitionValue as the protocol stores it.
  */
object DeltaWrite {

  private val mapper = new ObjectMapper()

  /** Commit `df` to `tableDir` in `mode`; returns the committed version.
    * `partCols` is only consulted when CREATING the table (version 0) —
    * later commits reuse (and enforce) the log's partitioning.
    *
    * `mergeSchema = true` (Delta's schema-evolution-on-write option):
    * the incoming frame may ADD nullable columns; every existing table
    * column must still be present with its exact type. The commit then
    * carries an updated metaData action with the widened schema —
    * earlier data files simply lack the new columns, and the
    * name-resolving parquet scan serves them as NULLs, exactly Delta's
    * read semantics for added columns. Dropping or retyping a column
    * stays a loud reject (that is DDL, not evolution-on-write). */
  def write(df: DataFrame, tableDir: String, partCols: Seq[String] = Nil,
            mode: String = "append", mergeSchema: Boolean = false): Long = {
    require(Set("append", "overwrite", "overwritePartitions")(mode),
      s"unknown Delta write mode '$mode'")
    val root = Paths.get(tableDir)
    val logDir = root.resolve("_delta_log")
    val existing =
      if (Files.isDirectory(logDir)) Some(DeltaRead.snapshot(tableDir)) else None
    val version = existing.map(_.version + 1).getOrElse(0L)
    val cols = existing.map(_.partitionColumns).getOrElse(partCols)
    var evolvedSchema: Option[StructType] = None
    existing.foreach { snap =>
      // column-mapped tables are written in their PHYSICAL column space
      // (toPhysical below); schema evolution on them would have to mint
      // physicalName/field-id metadata — out of scope, loud reject
      require(snap.columnMapping.isEmpty || !mergeSchema,
        s"mergeSchema on a column-mapped table is not supported ($tableDir)")
      val want = snap.schema.fields.map(f => (f.name, f.dataType)).toSeq
      val got = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (mergeSchema && got != want) {
        val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
        val missing = want.filterNot { case (n, t) => byName.get(n).contains(t) }
        require(missing.isEmpty,
          s"mergeSchema can only ADD columns; incoming frame drops/retypes " +
            s"${missing.map(_._1).mkString(",")} of $tableDir")
        // added columns are FORCED nullable in the table schema — files
        // written before the evolution have no values for them, so any
        // reader must be allowed to produce NULLs there
        val newCols = df.schema.fields.filterNot(f =>
          snap.schema.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        evolvedSchema = Some(StructType(
          snap.schema.fields.map(f => f.copy()) ++ newCols))
      } else {
        // same (name, type) list in the same order: a lax match here writes
        // files later commits' readers decode with the wrong schema
        require(got == want,
          s"schema mismatch vs $tableDir log: got ${got.mkString(",")}, table has ${want.mkString(",")}" +
            (if (got.toMap.keySet.subsetOf(want.toMap.keySet)) ""
             else " (pass mergeSchema = true to add columns)"))
      }
    }

    // column-mapped tables stage in their PHYSICAL column space: files
    // store physical names (+ field ids under id mode), dir layout and
    // add pv/stats keys are physical — exactly the log contract; the
    // snapshot replay normalizes back to logical on read
    val mapping = existing.map(_.columnMapping).getOrElse(Map.empty)
    val (staged, physCols, dataSchema) = existing match {
      case Some(snap) if mapping.nonEmpty =>
        (toPhysical(snap, df), snap.partitionColumns.map(mapping(_)),
          snap.physDataSchema)
      case _ =>
        (df, cols, StructType(
          df.schema.fields.filterNot(f => cols.contains(f.name))))
    }
    val adds = stageDataFiles(staged, root, physCols, dataSchema)

    val toLogical: Map[String, String] = mapping.map(_.swap)
    val removes: Seq[String] = mode match {
      case "append" => Nil
      case "overwrite" => existing.toSeq.flatMap(_.files.map(_.path))
      case "overwritePartitions" =>
        // staged pv keys are physical; the replayed snapshot's are
        // logical — compare in the logical space
        val touched = adds.map(_.partitionValues
          .map { case (k, v) => toLogical.getOrElse(k, k) -> v }.toMap).toSet
        existing.toSeq.flatMap(_.files.filter(f => touched(f.partitionValues)).map(_.path))
    }

    val lines = scala.collection.mutable.ArrayBuffer[String]()
    if (version == 0L) {
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      lines += metaDataJson(df.schema, cols)
    }
    // schema evolution: this commit re-declares metaData with the widened
    // schema (configuration carried — re-declaring with an empty map would
    // silently wipe table properties like delta.enableChangeDataFeed)
    evolvedSchema.foreach(sch => lines += metaDataJson(sch, cols,
      existing.map(_.configuration).getOrElse(Map.empty)))
    val actions = CommitInfo(if (mode == "append") "WRITE" else "OVERWRITE") +:
      (removes.map(Remove(_)) ++ adds)
    commitCas(logDir, version, lines.toSeq ++ actions.map(render),
      adds.map(a => root.resolve(a.path)))
    version
  }

  /** RESTORE TABLE … TO VERSION (Delta's RESTORE): commit a new version
    * whose live set equals version `toVersion`'s — remove every file the
    * head added since, re-add every file the head dropped (with their
    * original partitionValues/stats/DVs), all `dataChange=true` (a
    * restore IS a data change to a downstream consumer, exactly how
    * Delta commits it). History is preserved: the restored-over versions
    * stay time-travelable until VACUUM.
    *
    * Fails loudly if any file to re-add is physically gone (vacuumed
    * past the restore point) — the same guard Delta applies. Returns the
    * committed version (head unchanged when already at the target
    * state). */
  def restore(spark: org.apache.spark.sql.SparkSession, tableDir: String,
              toVersion: Long): Long = {
    val root = Paths.get(tableDir)
    val head = DeltaRead.snapshot(tableDir)
    val target = DeltaRead.snapshotAt(tableDir, toVersion)
    require(head.columnMapping == target.columnMapping &&
      head.schema == target.schema,
      s"restore across a schema/column-mapping change is not supported " +
        s"($tableDir: v$toVersion vs head v${head.version})")
    def key(f: DeltaRead.AddFile) = (f.path, f.deletionVector.map(_.pathOrInlineDv))
    val headSet = head.files.map(key).toSet
    val targetSet = target.files.map(key).toSet
    val removes = head.files.filterNot(f => targetSet(key(f)))
    val readds = target.files.filterNot(f => headSet(key(f)))
    if (removes.isEmpty && readds.isEmpty) return head.version
    readds.foreach { f =>
      require(Files.exists(root.resolve(f.path)),
        s"restore target v$toVersion references ${f.path}, which was " +
          "vacuumed — restore past the retention horizon is impossible")
      // the re-add's DELETION VECTOR must exist too: vacuum reclaims
      // superseded DV files, and committing a re-add whose DV is gone
      // would succeed here and then fail every read of the new head
      f.deletionVector.filter(_.storageType == "u").foreach { d =>
        val dvRel = DeletionVectors.relativePathOf(d.pathOrInlineDv)
        require(Files.exists(root.resolve(dvRel)),
          s"restore target v$toVersion references deletion vector $dvRel " +
            s"(of ${f.path}), which was vacuumed — restore past the " +
            "retention horizon is impossible")
      }
    }
    val actions = CommitInfo("RESTORE") +: (removes.map(f => Remove(f.path)) ++
      readds.map(f => reAdd(head, f, f.deletionVector)))
    val version = head.version + 1
    commitCas(root.resolve("_delta_log"), version, actions.map(render))
    version
  }

  /** Rename a LOGICAL-column frame into the table's PHYSICAL column
    * space for staging: data columns take their physicalName (plus
    * field-id metadata under id mode, so the written parquet carries
    * ids), partition columns their physicalName. Files, dir layout, and
    * therefore add pv/stats keys come out physical — the log contract
    * for column-mapped tables; replay normalizes back to logical.
    * No-op without mapping. */
  private def toPhysical(snap: DeltaRead.Snapshot, out: DataFrame): DataFrame =
    if (snap.columnMapping.isEmpty) out
    else {
      import org.apache.spark.sql.functions.col
      val physData = snap.physDataSchema
      val dataCols = snap.dataSchema.fields.toSeq.zip(physData.fields.toSeq)
        .map { case (lf, pf) => col(lf.name).as(pf.name, pf.metadata) }
      val partCols = snap.partitionColumns.map(n =>
        col(n).as(snap.columnMapping.getOrElse(n, n)))
      out.select(dataCols ++ partCols: _*)
    }

  /** [[stageDataFiles]] of a logical-column frame against `snap`'s
    * physical layout — the shared staging seam for rewrites ([[optimize]]
    * and [[mergeClauses]]) on mapped and unmapped tables alike. */
  private def stagePhysical(snap: DeltaRead.Snapshot, out: DataFrame,
                            root: Path): Seq[Add] =
    stageDataFiles(toPhysical(snap, out), root,
      snap.partitionColumns.map(n => snap.columnMapping.getOrElse(n, n)),
      if (snap.columnMapping.isEmpty) snap.dataSchema else snap.physDataSchema)

  /** The `add` actions of `df` staged under the table root through
    * [[DataFiles.stage]], each with `stats` from its footer — the shared
    * staging seam behind [[write]], [[optimize]] and [[mergeClauses]].
    * Staged paths are kept as the table-relative paths: part names carry
    * Spark's task uuids, so racing writers' files never collide. */
  private def stageDataFiles(df: DataFrame, root: Path, cols: Seq[String],
                             dataSchema: StructType): Seq[Add] =
    DataFiles.stage(df, root, cols, Some(dataSchema))((w, _) => w.rel).map(s =>
      Add(s.rel, s.partition, s.size, stats = s.ranges.map(_.stats.json)))

  /** OPTIMIZE — physical-layout maintenance that changes NO logical row,
    * committed with `dataChange = false` add/remove actions exactly as
    * the protocol prescribes (so [[DeltaRead.readAppends]],
    * [[DeltaRead.readChangeFeed]], and any conformant incremental
    * consumer see an empty delta for this commit; a full-snapshot reader
    * sees identical values from fewer, better files).
    *
    * Two modes:
    *  - **bin-pack** (`zorderBy = Nil`): per partition-tuple, every live
    *    file smaller than `targetFileBytes` — plus every file carrying a
    *    deletion vector, whose suppressed rows are physically PURGED by
    *    the rewrite — is coalesced; tuples with nothing to gain (a
    *    single small DV-less file, or none) are left untouched. The
    *    rewrite routes each tuple's rows to a single task
    *    (`repartition(P, partCols)`), so a touched tuple comes out as
    *    one file; P scales with candidate bytes / target.
    *  - **Z-ORDER** (`zorderBy` 1-4 columns): rewrites ALL live files
    *    into `ceil(live bytes / targetFileBytes)` z-clustered files via
    *    the deterministic [[graft.ops.ZCluster]] layout (the exact
    *    coarse-z histogram + representative-key routing that keeps
    *    downstream stats-pruning counts run-invariant). Declared scope:
    *    z-order targets UNPARTITIONED tables; on a partitioned table use
    *    bin-pack (per-partition z-order composes routing with tuple
    *    isolation and is left out until a user needs it — loud reject).
    *
    * Returns (live files before, live files after). A no-op candidate
    * set commits nothing and leaves the head version unchanged. */
  def optimize(spark: org.apache.spark.sql.SparkSession, tableDir: String,
               targetFileBytes: Long = 128L << 20,
               zorderBy: Seq[String] = Nil): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val snap = DeltaRead.snapshot(tableDir)
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val root = Paths.get(tableDir)
    val cols = snap.partitionColumns
    val before = snap.files.size
    if (snap.files.isEmpty) return (0, 0)

    val (rewritten: Seq[DeltaRead.AddFile], laid: DataFrame) =
      if (zorderBy.nonEmpty) {
        require(cols.isEmpty,
          "z-order optimize targets unpartitioned tables (bin-pack handles partitioned)")
        val missing = zorderBy.filterNot(snap.schema.fieldNames.contains)
        require(missing.isEmpty, s"z-order columns not in table: $missing")
        val df = DeltaRead.readSnapshot(spark, tableDir, snap)
          .select(snap.schema.fieldNames.map(col).toSeq: _*)
        val t = math.max(1, math.ceil(
          snap.files.map(_.size).sum.toDouble / targetFileBytes).toInt)
        (snap.files, graft.ops.ZCluster.layout(df, zorderBy, t))
      } else {
        val cands = snap.files.groupBy(_.partitionValues).values.flatMap { fs =>
          val c = fs.filter(f =>
            f.size < targetFileBytes || f.deletionVector.nonEmpty)
          // a lone DV-less small file gains nothing from a rewrite; a
          // lone DV'd file does (the purge)
          if (c.size >= 2 || c.exists(_.deletionVector.nonEmpty)) c else Nil
        }.toSeq
        if (cands.isEmpty) return (before, before)
        val sub = snap.copy(files = cands)
        val df = DeltaRead.readSnapshot(spark, tableDir, sub)
          .select(snap.schema.fieldNames.map(col).toSeq: _*)
        val parts = math.max(1, math.ceil(
          cands.map(_.size).sum.toDouble / targetFileBytes).toInt)
        // each partition tuple lands in exactly one task -> one output
        // file per touched tuple; unpartitioned bin-packs round-robin
        (cands, if (cols.nonEmpty) df.repartition(parts, cols.map(col): _*)
                else df.repartition(parts))
      }

    val version = snap.version + 1
    val adds = stagePhysical(snap, laid, root)
    val actions = CommitInfo("OPTIMIZE") +:
      (rewritten.map(f => Remove(f.path, dataChange = false)) ++
        adds.map(_.copy(dataChange = false)))
    commitCas(root.resolve("_delta_log"), version, actions.map(render),
      adds.map(a => root.resolve(a.path)))
    (before, before - rewritten.size + adds.size)
  }

  /** MERGE (upsert): WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED
    * THEN INSERT * — the statement the reference's incremental
    * materializations compile to on its Databricks target
    * (datavault4dbt macros/materializations: MERGE on the hashkey), here
    * as a copy-on-write rewrite against a real Delta log. It is the
    * UPDATE-all/INSERT-all clause list of [[mergeClauses]], which plans
    * it without a full-outer join: touched-file rows anti-joined out of
    * the carried set, unioned with ALL source rows, one distributed
    * `partitionBy` write.
    *
    * `source` is evaluated more than once (bounds, key probe, rewrite,
    * change feed) — cache it if it is expensive. With
    * `delta.enableChangeDataFeed=true` the commit also persists
    * `_change_data` rows — `update_preimage`/`update_postimage` for
    * matched keys, `insert` for new ones; carried rows stay out of the
    * feed (without cdc actions a conformant CDF reader would have to
    * mis-synthesize every carried row as delete+insert).
    *
    * Returns the committed version (head unchanged on an empty source). */
  def merge(spark: org.apache.spark.sql.SparkSession, tableDir: String,
            source: DataFrame, keyCols: Seq[String]): Long =
    mergeClauses(spark, tableDir, source, keyCols,
      Seq(MergeClauses.MatchedUpdate(), MergeClauses.NotMatchedInsert()))

  /** MERGE with the FULL clause family ([[MergeClauses]]): clause
    * conditions, WHEN MATCHED DELETE, column-subset UPDATE SET (the
    * reference rehash shape), WHEN NOT MATCHED BY SOURCE
    * UPDATE/DELETE, and the UPDATE-all/INSERT-all upsert [[merge]].
    *
    * Scale shape (the same 3-job plan Delta's own MERGE runs):
    *  1. **Stats prune** — source key [min, max] bounds (one aggregate,
    *     which also gates duplicate keys) against each live file's
    *     `add.stats` through [[StatsSkip]]; a file whose key range cannot
    *     contain any source key is never read. An append-mostly table
    *     with clustered keys touches only the recent tail.
    *  2. **Find touched** — a distributed semi-join of the surviving
    *     files' rows (deletion vectors pre-applied) against the distinct
    *     source keys; only DISTINCT file paths reach the driver
    *     (O(touched files), the same order as the add actions).
    *  3. **Rewrite** — the clauses applied to the touched files' rows,
    *     one distributed `partitionBy` write, copy-on-write. Untouched
    *     files are never rewritten; touched files' deletion vectors are
    *     purged by the rewrite.
    * A NOT-MATCHED-BY-SOURCE clause sees rows the source does NOT name,
    * so it touches every live file (the standard cost of that clause
    * everywhere). The search is [[MergeClauses.touchedFiles]], shared
    * with Iceberg.
    * With CDF enabled the change rows are emitted PER CLAUSE —
    * update_preimage/postimage for updates, delete for deletes, insert
    * for inserts; carried rows stay out of the feed.
    *
    * Source contract: must carry the key columns; a NOT MATCHED INSERT
    * or SET-* update clause additionally requires the full table
    * schema. Duplicate source keys reject loudly, matching Delta's
    * multiple-source-rows-matched error. Returns the committed version
    * (head unchanged when nothing was touched or inserted). */
  def mergeClauses(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                   source: DataFrame, keyCols: Seq[String],
                   clauses: Seq[MergeClauses.Clause],
                   aliases: (String, String) = ("t", "s")): Long = {
    import org.apache.spark.sql.functions.col
    val snap = DeltaRead.snapshot(tableDir)
    MergeClauses.validate(snap.schema, source, keyCols, clauses)
    val root = Paths.get(tableDir)
    val touched = MergeClauses.touchedFiles[DeltaRead.AddFile](source, keyCols,
        clauses, snap.schema, snap.files, _.stats,
        f => LogScan.qualifiedPath(spark, root.resolve(f.path)),
        fs => DeltaRead.readWithPositions(spark, tableDir, snap.copy(files = fs))) match {
      case None => return snap.version
      case Some(fs) => fs
    }

    val target =
      if (touched.isEmpty) MergeClauses.emptyFrame(spark, snap.schema)
      else DeltaRead.readSnapshot(spark, tableDir, snap.copy(files = touched))
        .select(snap.schema.fieldNames.map(col).toSeq: _*)
    val (out, changes) =
      MergeClauses(target, source, keyCols, clauses, snap.schema, aliases)

    val version = snap.version + 1
    val adds = stagePhysical(snap, out, root)
    if (touched.isEmpty && adds.isEmpty) return snap.version
    val cdc = cdcActions(snap, root, changes)
    val actions = CommitInfo("MERGE") +: (touched.map(f => Remove(f.path)) ++ adds ++ cdc)
    commitCas(root.resolve("_delta_log"), version, actions.map(render),
      (adds.map(_.path) ++ cdc.map(_.path)).map(p => root.resolve(p)))
    version
  }

  /** Publish `lines` as commit `version` iff no other writer claimed it
    * ([[CommitCas.publishOrFail]]). Commit visibility is this publish,
    * after every data file is in place. A losing writer first deletes
    * `placed`, the files this attempt put under the root (data,
    * deletion-vector and change files — never a re-added live file), then
    * gets a loud ConcurrentModificationException with the log intact:
    * re-read the head and retry with a fresh version. */
  private[sources] def commitCas(logDir: Path, version: Long,
                                 lines: Seq[String], placed: Seq[Path] = Nil): Unit =
    CommitCas.publishOrFail(logDir.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8), placed,
      s"Delta version $version", "re-read the head and retry")

  /** Merge-on-read DELETE via deletion vectors: rows matching `condition`
    * are suppressed WITHOUT rewriting any data file — each touched file
    * gets (remove, re-add-with-DV) actions, exactly the protocol's
    * copy-free delete.
    *
    * Scale shape: matching (file, row-index) pairs are computed by the
    * DISTRIBUTED scan (physical positions from `_metadata.row_index`,
    * existing DVs pre-applied so re-deletes merge instead of resurrect),
    * grouped per file, UNIONED with the file's existing vector,
    * serialized to roaring bytes ON EXECUTORS, and written to one DV
    * file PER SHUFFLE PARTITION, also on executors (the protocol allows
    * any number of DV files per commit) — the driver only collects one
    * small DESCRIPTOR row per touched file (path, dv-file uuid, offset,
    * size, cardinality), never a bitmap. A 10%-delete across 10⁶ files
    * holds at most one partition's bitmaps in any single task, and the
    * driver's state is O(touched files), the same order as the add
    * actions it must write anyway. (File IO is java.nio — the local /
    * shared-filesystem seam this writer targets throughout; a
    * HDFS/object-store port swaps in the Hadoop FileSystem API here.)
    *
    * When the table opted into Change Data Feed
    * (`delta.enableChangeDataFeed=true`, see [[setProperties]]), the
    * deleted rows are ALSO persisted under `_change_data/` with
    * `_change_type='delete'` and recorded as `cdc` actions, so
    * [[DeltaRead.readChangeFeed]] — or any conformant engine — can serve
    * this commit as changes (a DV commit without cdc actions is
    * otherwise a loud CDF reject: the suppressed rows cannot be
    * reconstructed from the log alone).
    *
    * Returns the committed version (head version unchanged if nothing
    * matched — an empty DELETE is a no-op, not an empty commit). */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                  condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val snap = DeltaRead.snapshot(tableDir)
    val root = Paths.get(tableDir)
    val byQualified: Map[String, DeltaRead.AddFile] =
      snap.files.map(f => LogScan.qualifiedPath(spark, root.resolve(f.path)) -> f).toMap
    // existing serialized vectors, captured into the executor closure
    // (O(files-with-DVs) bitmap blobs — small, same state the planner holds)
    val existing: Map[String, Array[Byte]] = snap.files.flatMap(f =>
      f.deletionVector.map(d => LogScan.qualifiedPath(spark, root.resolve(f.path)) ->
        DeletionVectors.resolve(root, d))).toMap
    val rootStr = root.toAbsolutePath.toString
    // (qualified path, dv uuid base85, offset, sizeInBytes, cardinality):
    // bitmaps are serialized AND written executor-side; only these rows
    // ever reach the driver
    val touched: Array[(String, String, Int, Int, Long)] =
      DeltaRead.readWithPositions(spark, tableDir, snap)
        .filter(condition)
        .groupBy(col("__fp"))
        .agg(sort_array(collect_set(col("__ri"))).as("idx"))
        .as[(String, Seq[Long])]
        .map { case (fp, newIdx) =>
          val merged = existing.get(fp) match {
            case Some(old) =>
              (DeletionVectors.deserialize(old) ++ newIdx).distinct.sorted
            case None => newIdx.toArray
          }
          (fp, DeletionVectors.serialize(merged), merged.length.toLong)
        }
        .mapPartitions { it =>
          val items = it.toArray
          if (items.isEmpty) Iterator.empty
          else {
            val uuid = java.util.UUID.randomUUID()
            val offsets = DeletionVectors.writeFile(
              Paths.get(rootStr).resolve(s"deletion_vector_$uuid.bin"),
              items.toIndexedSeq.map(_._2))
            val enc = DeletionVectors.encodeUuid(uuid)
            items.iterator.zip(offsets.iterator).map {
              case ((fp, bytes, card), off) => (fp, enc, off, bytes.length, card)
            }
          }
        }
        .collect()
    if (touched.isEmpty) return snap.version

    val version = snap.version + 1
    val logDir = root.resolve("_delta_log")
    // first DV on the table gates the protocol up (readerFeatures is how
    // a conformant engine knows it MUST apply the vectors)
    val protocol =
      if (snap.protocol.readerFeatures.contains("deletionVectors")) Nil
      else Seq(featureProtocolJson(snap.protocol, "deletionVectors"))
    val actions = CommitInfo("DELETE") +:
      touched.toSeq.flatMap { case (fp, encUuid, offset, sizeInBytes, card) =>
        val f = byQualified.getOrElse(fp,
          throw new IllegalStateException(s"scan surfaced unknown file $fp"))
        Seq(Remove(f.path), reAdd(snap, f, Some(DeletionVectors.Descriptor(
          "u", encUuid, Some(offset), sizeInBytes, card))))
      }
    // CDF: persist the deleted rows as change data so this DV commit is
    // consumable as a feed
    val cdc = cdcActions(snap, root, DeltaRead.readWithPositions(spark, tableDir, snap)
      .filter(condition).drop("__fp", "__ri").withColumn("_change_type", lit("delete")))
    commitCas(logDir, version, protocol ++ (actions ++ cdc).map(render),
      (touched.map(t => DeletionVectors.relativePathOf(t._2)).distinct.toSeq ++
        cdc.map(_.path)).map(p => root.resolve(p)))
    version
  }

  /** The `cdc` actions of a commit whose change rows are `changes` (table
    * columns + `_change_type`), staged under `_change_data/` — only when
    * the table opted into Change Data Feed (`delta.enableChangeDataFeed`,
    * the same gate Delta's own writers use); none otherwise. */
  private def cdcActions(snap: DeltaRead.Snapshot, root: Path,
                         changes: => DataFrame): Seq[Cdc] =
    if (!snap.configuration.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true"))) Nil
    else {
      import org.apache.spark.sql.functions.col
      // cdc files would need the physical column space too — reject
      // rather than emit a feed conformant readers mis-decode
      require(snap.columnMapping.isEmpty,
        s"CDF emission on a column-mapped table is not supported ($root)")
      // change files store the table's layout + _change_type; partition
      // columns become hive dirs (dropped from data pages)
      val changeDf = changes.select((snap.dataSchema.fieldNames.toSeq ++
        snap.partitionColumns).map(col) :+ col("_change_type"): _*)
      DataFiles.stage(changeDf, root, snap.partitionColumns)(
        (w, _) => s"_change_data/${w.rel}").map(s => Cdc(s.rel, s.partition, s.size))
    }

  /** ALTER TABLE SET TBLPROPERTIES: commit a metaData action carrying the
    * merged configuration (the protocol's property-change mechanism).
    * Enabling `delta.enableChangeDataFeed` also gates the protocol up to
    * carry the changeDataFeed writer feature, as the spec requires. */
  def setProperties(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                    props: Map[String, String]): Long = {
    val snap = DeltaRead.snapshot(tableDir)
    val root = Paths.get(tableDir)
    val version = snap.version + 1
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val enablingCdf = props.get("delta.enableChangeDataFeed")
      .exists(_.equalsIgnoreCase("true")) &&
      !snap.configuration.get("delta.enableChangeDataFeed")
        .exists(_.equalsIgnoreCase("true"))
    if (enablingCdf) {
      val p = snap.protocol
      val needsFeature = p.minWriterVersion >= 7 &&
        !p.writerFeatures.contains("changeDataFeed")
      val needsBump = p.minWriterVersion < 4
      if (needsFeature || needsBump) {
        val n = mapper.createObjectNode()
        val pn = n.putObject("protocol")
        pn.put("minReaderVersion", p.minReaderVersion)
        pn.put("minWriterVersion", math.max(p.minWriterVersion, 4))
        if (p.minWriterVersion >= 7) {
          val rf = pn.putArray("readerFeatures")
          p.readerFeatures.distinct.foreach(rf.add)
          val wf = pn.putArray("writerFeatures")
          (p.writerFeatures :+ "changeDataFeed").distinct.foreach(wf.add)
        }
        lines += mapper.writeValueAsString(n)
      }
    }
    lines += metaDataJson(snap.schema, snap.partitionColumns,
      snap.configuration ++ props)
    lines += render(CommitInfo("SET TBLPROPERTIES"))
    commitCas(root.resolve("_delta_log"), version, lines.toSeq)
    version
  }

  /** VACUUM: physically delete data files the CURRENT snapshot no longer
    * references — tombstoned files plus superseded deletion-vector files
    * (each deleteWhere writes a fresh DV file; the replaced one goes
    * unreferenced). The log is untouched: tombstones are metadata and
    * checkpoints retain them per the protocol. After a vacuum,
    * time-traveling into the removed files fails at scan time — exactly
    * Delta's own trade (retention here is caller-controlled: run vacuum
    * only when history older than the head is expendable).
    * Returns the deleted file count. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, tableDir: String): Int = {
    val snap = DeltaRead.snapshot(tableDir)
    val root = Paths.get(tableDir)
    val liveData = snap.files.map(_.path).toSet
    val liveDv = snap.files.flatMap(_.deletionVector)
      .filter(_.storageType == "u")
      .map(d => DeletionVectors.relativePathOf(d.pathOrInlineDv)).toSet
    var removed = 0
    // tombstoned data files (not re-added since — the replay guarantees
    // a path is never both live and tombstoned)
    snap.tombstones.foreach { t =>
      if (!liveData.contains(t.path) &&
        Files.deleteIfExists(root.resolve(t.path))) removed += 1
    }
    // unreferenced DV files: deletion_vector_*.bin at the table root not
    // named by any live add's descriptor
    val listing = Files.list(root)
    try listing.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("deletion_vector_") &&
        p.getFileName.toString.endsWith(".bin"))
      .foreach { p =>
        if (!liveDv.contains(root.relativize(p).toString) &&
          Files.deleteIfExists(p)) removed += 1
      }
    finally listing.close()
    removed
  }

  /** The protocol's checkpoint row shape (PROTOCOL.md §Checkpoints —
    * "Checkpoint Schema"): one row per action, struct columns named after
    * the action kinds, with the EXACT physical types a conformant engine
    * expects — `partitionValues` as map<string,string> (NOT a struct keyed
    * by column names, which schema inference would produce), protocol
    * versions as int, `stats` a JSON string. Hand-declared so checkpoint
    * layout never depends on which fields happen to occur in this table. */
  private val checkpointSchema: StructType = StructType(Seq(
    StructField("protocol", StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))),
    StructField("metaData", StructType(Seq(
      StructField("id", StringType),
      StructField("name", StringType),
      StructField("description", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))),
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType,
        valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", IntegerType),
        StructField("sizeInBytes", IntegerType),
        StructField("cardinality", LongType))))))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))),
    StructField("txn", StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType),
      StructField("lastUpdated", LongType))))))

  /** Compact the table's current head into a single-part parquet
    * checkpoint + `_last_checkpoint` pointer — the state
    * [[DeltaRead.snapshot]] resumes from instead of replaying the full
    * JSON history. Rows are built against [[checkpointSchema]] (never
    * JSON-inferred: inference turns partitionValues into a per-table
    * struct, widens protocol ints to long, and can only emit fields the
    * data happens to exercise — a layout real Delta engines reject).
    * Remove tombstones are RETAINED per the protocol, so VACUUM/streaming
    * consumers resuming from our checkpoint still see them.
    *
    * `parts > 1` writes a multi-part checkpoint
    * (`%020d.checkpoint.%010d.%010d.parquet` + a `parts` field in
    * `_last_checkpoint`) — the layout large production tables use so no
    * single checkpoint file becomes a write/read bottleneck; actions are
    * split round-robin, which is legal because checkpoint rows are
    * unordered state (one action per path). */
  // ---- shared checkpoint row builders (classic + v2) -----------------

  /** Protocol row — re-emitted as the log declared it: a DV table's
    * feature gates must survive compaction or a resuming engine
    * under-checks itself. */
  private def cpProtocolRow(proto: DeltaRead.Protocol): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(Integer.valueOf(proto.minReaderVersion),
      Integer.valueOf(proto.minWriterVersion),
      if (proto.readerFeatures.isEmpty) null else proto.readerFeatures,
      if (proto.writerFeatures.isEmpty) null else proto.writerFeatures)

  /** metaData row — configuration must survive compaction; dropping e.g.
    * delta.columnMapping.mode would flip a mapped table to mode=none for
    * any reader resuming from this checkpoint. */
  private def cpMetaDataRow(snap: DeltaRead.Snapshot): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row("graft-delta-write", null, null,
      org.apache.spark.sql.Row("parquet", Map.empty[String, String]),
      snap.schema.json, snap.partitionColumns, snap.configuration,
      java.lang.Long.valueOf(0L))

  /** add row — stats survive compaction (skipping must not degrade after
    * a checkpoint truncates the JSON history). The snapshot's pv/stats
    * keys are LOGICAL (normalized at replay); a column-mapped table's
    * log — checkpoints included — stores them PHYSICAL, so map back. */
  private def cpAddRow(snap: DeltaRead.Snapshot,
                       f: DeltaRead.AddFile): org.apache.spark.sql.Row = {
    val a = reAdd(snap, f, f.deletionVector)
    org.apache.spark.sql.Row(pathEnc(f.path), a.partitionValues.toMap,
      java.lang.Long.valueOf(f.size), java.lang.Long.valueOf(0L),
      java.lang.Boolean.FALSE, a.stats.orNull,
      f.deletionVector.map(d => org.apache.spark.sql.Row(d.storageType,
        d.pathOrInlineDv, d.offset.map(Integer.valueOf).orNull,
        Integer.valueOf(d.sizeInBytes),
        java.lang.Long.valueOf(d.cardinality))).orNull)
  }

  private def cpRemoveRow(t: DeltaRead.RemoveFile): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(pathEnc(t.path),
      java.lang.Long.valueOf(t.deletionTimestamp), java.lang.Boolean.TRUE)

  private def cpTxnRow(appId: String, v: Long): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(appId, java.lang.Long.valueOf(v),
      java.lang.Long.valueOf(0L))

  def checkpoint(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                 parts: Int = 1): Long = {
    import org.apache.spark.sql.Row
    val snap = DeltaRead.snapshot(tableDir)
    val logDir = Paths.get(tableDir, "_delta_log")
    def row(protocol: Row = null, metaData: Row = null, add: Row = null,
            remove: Row = null, txn: Row = null): Row =
      Row(protocol, metaData, add, remove, txn)
    val rows = scala.collection.mutable.ArrayBuffer[Row]()
    rows += row(protocol = cpProtocolRow(snap.protocol))
    rows += row(metaData = cpMetaDataRow(snap))
    snap.files.foreach(f => rows += row(add = cpAddRow(snap, f)))
    snap.tombstones.foreach(t => rows += row(remove = cpRemoveRow(t)))
    // setTransaction markers: the protocol requires a checkpoint to retain
    // the latest txn per appId — dropping them would let an external
    // streaming writer resuming from this checkpoint double-commit
    snap.txns.foreach { case (appId, v) =>
      rows += row(txn = cpTxnRow(appId, v))
    }
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val groups: Seq[Seq[Row]] =
      if (parts == 1) Seq(rows.toSeq)
      else (0 until parts).map(p => rows.toSeq.zipWithIndex.collect {
        case (r, i) if i % parts == p => r
      })
    groups.zipWithIndex.foreach { case (g, i) =>
      val target =
        if (parts == 1) logDir.resolve(f"${snap.version}%020d.checkpoint.parquet")
        else logDir.resolve(
          f"${snap.version}%020d.checkpoint.${i + 1}%010d.$parts%010d.parquet")
      DataFiles.writeOne(spark.createDataFrame(g.asJava, checkpointSchema), target)
    }
    val partsField = if (parts == 1) "" else s""","parts":$parts"""
    Files.writeString(logDir.resolve("_last_checkpoint"),
      s"""{"version":${snap.version},"size":${rows.size}$partsField}""")
    snap.version
  }

  /** V2 CHECKPOINT (PROTOCOL.md §V2 Checkpoints) — the layout modern
    * Databricks writers default to on new tables: a UUID-named top file
    * `%020d.checkpoint.<uuid>.parquet` holding the NON-file actions plus
    * one `checkpointMetadata` action and `sidecar` actions, with the
    * add/remove file actions split across `_sidecars/<uuid>.parquet`
    * files. The separation is the point at production scale: sidecars
    * can be written (and later read) in parallel and reused across
    * checkpoints, while the tiny top file stays the single commit point.
    *
    * A table checkpointed this way must DECLARE it: if the protocol
    * lacks the `v2Checkpoint` reader feature, a protocol-upgrade commit
    * lands first (reader 3 / writer 7, legacy versions converted with
    * their implied features, exactly like the first-DV gate) — a reader
    * that doesn't understand UUID checkpoints must refuse the table
    * rather than miss its newest checkpoint.
    *
    * Returns the checkpointed version. */
  def checkpointV2(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                   sidecars: Int = 2): Long = {
    import org.apache.spark.sql.Row
    require(sidecars >= 1, s"sidecars must be >= 1, got $sidecars")
    val logDir = Paths.get(tableDir, "_delta_log")
    var snap = DeltaRead.snapshot(tableDir)
    if (!snap.protocol.readerFeatures.contains("v2Checkpoint")) {
      commitCas(logDir, snap.version + 1,
        Seq(featureProtocolJson(snap.protocol, "v2Checkpoint"),
          render(CommitInfo("UPGRADE PROTOCOL"))))
      snap = DeltaRead.snapshot(tableDir)
    }

    // sidecars: file actions only, round-robin (rows are unordered state)
    val sidecarSchema = StructType(Seq(
      checkpointSchema("add"), checkpointSchema("remove")))
    val fileRows: Seq[Row] =
      snap.files.map(f => Row(cpAddRow(snap, f), null)) ++
        snap.tombstones.map(t => Row(null, cpRemoveRow(t)))
    val sidecarDir = logDir.resolve("_sidecars")
    val sidecarEntries = (0 until sidecars).map { i =>
      val g = fileRows.zipWithIndex.collect {
        case (r, j) if j % sidecars == i => r
      }
      val target = sidecarDir.resolve(s"${java.util.UUID.randomUUID()}.parquet")
      DataFiles.writeOne(spark.createDataFrame(g.asJava, sidecarSchema), target)
      Row(sidecarDir.relativize(target).toString,
        java.lang.Long.valueOf(Files.size(target)), java.lang.Long.valueOf(0L))
    }

    val v2TopSchema = StructType(Seq(
      checkpointSchema("protocol"), checkpointSchema("metaData"),
      checkpointSchema("txn"),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType),
        StructField("tags", MapType(StringType, StringType))))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType))))))
    val topRows: Seq[Row] =
      Seq(Row(cpProtocolRow(snap.protocol), null, null, null, null),
        Row(null, cpMetaDataRow(snap), null, null, null),
        Row(null, null, null,
          Row(java.lang.Long.valueOf(snap.version), null), null)) ++
        snap.txns.toSeq.map { case (appId, v) =>
          Row(null, null, cpTxnRow(appId, v), null, null)
        } ++
        sidecarEntries.map(s => Row(null, null, null, null, s))
    val top = logDir.resolve(
      f"${snap.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")
    DataFiles.writeOne(spark.createDataFrame(topRows.asJava, v2TopSchema), top)
    Files.writeString(logDir.resolve("_last_checkpoint"),
      s"""{"version":${snap.version},"size":${topRows.size + fileRows.size}}""")
    snap.version
  }

  /** The commit and file actions this writer logs, rendered by
    * [[render]] — the one place their JSON shape (keys and key order) is
    * defined. Paths are table-relative and decoded; partitionValues and
    * stats are keyed as the log stores them (physical on a column-mapped
    * table, see [[reAdd]]). */
  private sealed trait Action
  private final case class CommitInfo(operation: String) extends Action
  private final case class Remove(path: String, dataChange: Boolean = true) extends Action
  private final case class Add(path: String, partitionValues: Iterable[(String, String)],
      size: Long, dataChange: Boolean = true, stats: Option[String] = None,
      deletionVector: Option[DeletionVectors.Descriptor] = None) extends Action
  private final case class Cdc(path: String, partitionValues: Map[String, String],
                               size: Long) extends Action

  private def render(a: Action): String = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    def putPartitionValues(o: ObjectNode, pv: Iterable[(String, String)]): Unit = {
      val pvn = o.putObject("partitionValues")
      pv.foreach { case (k, v) => if (v == null) pvn.putNull(k) else pvn.put(k, v) }
    }
    val n = mapper.createObjectNode()
    a match {
      case CommitInfo(operation) =>
        n.putObject("commitInfo").put("operation", operation)
          .put("engineInfo", "graft-delta-write")
      case Remove(path, dataChange) =>
        n.putObject("remove").put("path", pathEnc(path))
          .put("deletionTimestamp", 0L).put("dataChange", dataChange)
      case Add(path, pv, size, dataChange, stats, dv) =>
        val add = n.putObject("add").put("path", pathEnc(path))
        putPartitionValues(add, pv)
        add.put("size", size).put("modificationTime", 0L).put("dataChange", dataChange)
        stats.foreach(add.put("stats", _)) // a JSON STRING, per the protocol
        dv.foreach { d =>
          val dvn = add.putObject("deletionVector")
            .put("storageType", d.storageType).put("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(dvn.put("offset", _))
          dvn.put("sizeInBytes", d.sizeInBytes).put("cardinality", d.cardinality)
        }
      case Cdc(path, pv, size) =>
        val cd = n.putObject("cdc").put("path", pathEnc(path))
        putPartitionValues(cd, pv)
        cd.put("size", size).put("dataChange", false)
    }
    mapper.writeValueAsString(n)
  }

  /** `f` (a file of the replayed `snap`) re-added with `dv`, keyed as the
    * log stores it: the snapshot's partitionValues and stats keys are
    * LOGICAL (normalized at replay), a column-mapped table's log —
    * checkpoints included — stores them PHYSICAL, so map back. */
  private def reAdd(snap: DeltaRead.Snapshot, f: DeltaRead.AddFile,
                    dv: Option[DeletionVectors.Descriptor]): Add = {
    def phys(k: String): String = snap.columnMapping.getOrElse(k, k)
    def physKeys[V](m: Map[String, V]): Map[String, V] =
      m.map { case (k, v) => phys(k) -> v }
    Add(f.path, f.partitionValues.toSeq.map { case (k, v) => phys(k) -> v }, f.size,
      stats = f.stats.map(st => st.copy(min = physKeys(st.min),
        max = physKeys(st.max), nullCount = physKeys(st.nullCount)).json),
      deletionVector = dv)
  }

  /** A protocol action that moves `p` onto table features and adds
    * `feature` to both feature lists (reader 3 / writer 7). Converting a
    * LEGACY protocol must enumerate the features its version numbers
    * implied (PROTOCOL.md §Table Features) — else a strict engine stops
    * enforcing e.g. appendOnly/invariants; a protocol already on table
    * features lists them explicitly and implies nothing. */
  private def featureProtocolJson(p: DeltaRead.Protocol, feature: String): String = {
    val impliedWriter =
      if (p.minWriterVersion >= 7) Nil
      else Seq(
        2 -> Seq("appendOnly", "invariants"),
        3 -> Seq("checkConstraints"),
        4 -> Seq("changeDataFeed", "generatedColumns"),
        5 -> Seq("columnMapping"),
        6 -> Seq("identityColumns"))
        .filter(_._1 <= p.minWriterVersion).flatMap(_._2)
    val impliedReader =
      if (p.minReaderVersion == 2) Seq("columnMapping") else Nil
    val n = mapper.createObjectNode()
    val pn = n.putObject("protocol")
    pn.put("minReaderVersion", 3)
    pn.put("minWriterVersion", 7)
    val rf = pn.putArray("readerFeatures")
    (impliedReader ++ p.readerFeatures :+ feature).distinct.foreach(rf.add)
    val wf = pn.putArray("writerFeatures")
    (impliedWriter ++ p.writerFeatures :+ feature).distinct.foreach(wf.add)
    mapper.writeValueAsString(n)
  }

  private def metaDataJson(schema: StructType, partCols: Seq[String],
                           configuration: Map[String, String] = Map.empty): String = {
    val m = mapper.createObjectNode()
    val md = m.putObject("metaData")
    md.put("id", "graft-delta-write")
    md.putObject("format").put("provider", "parquet")
    md.put("schemaString", schema.json)
    val pc = md.putArray("partitionColumns")
    partCols.foreach(pc.add)
    val cfg = md.putObject("configuration")
    configuration.foreach { case (k, v) => cfg.put(k, v) }
    md.put("createdTime", 0L)
    mapper.writeValueAsString(m)
  }

  /** Log paths are RFC 2396 percent-encoded relative paths. */
  private def pathEnc(decoded: String): String =
    new java.net.URI(null, null, decoded, null).getRawPath
}
