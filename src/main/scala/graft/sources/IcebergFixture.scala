package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Emits a Table-Spec-conformant Iceberg table for the read-interop row
  * and its spec — fixture scaffolding, not a write path (the engine's
  * storage is TxLogTable; see [[DeltaFixture]] for the same stance).
  * Shapes follow iceberg.apache.org/spec, format v2: versioned
  * `metadata/v<N>.metadata.json` + `version-hint.text`, avro manifest
  * lists (`manifest_file` rows) and manifests (`manifest_entry` rows with
  * status 1 added / 0 existing / 2 deleted), data files that CONTAIN the
  * partition source columns, identity partition transforms. Only the
  * test-authoring side lives here (one data file per `adds` entry,
  * position and equality delete files); every snapshot commits through
  * [[IcebergWrite.commitSnapshot]], the production commit core. */
object IcebergFixture {

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
    val conf = spark.sparkContext.hadoopConfiguration
    val written = adds.zipWithIndex.map { case ((pv, rows), i) =>
      val dirs = partCols.map(c => s"$c=${pv(c)}")
      val target = root.resolve(("data" +: dirs).mkString("/") +
        f"/part-$snapshotId%05d-$i%03d.$format")
      val frame = rows.select(schema.fieldNames.map(col).toSeq: _*)
      if (format == "parquet") {
        val size = DataFiles.writeOne(frame, target)
        // record count and column bounds from the just-written footer,
        // read once (driver-side metadata, exact) instead of a
        // rows.count() Spark job
        val ranges = DataFiles.portableRanges(conf, target, schema)
          .getOrElse(throw new IllegalStateException(s"unreadable footer of $target"))
        IcebergWrite.AddedFile(target.toString, pv, ranges.numRecords, size,
          Some(ranges.stats))
      } else {
        // ORC (only this fixture writes it): one file staged beside the
        // target; no footer helper, so the count is a Spark job and the
        // manifest entry carries no bounds
        val staging = target.resolveSibling(s"_staging_${UUID.randomUUID()}")
        try {
          frame.coalesce(1).write.orc(staging.toString)
          val s = Files.list(staging)
          val part = try s.iterator().asScala.find(_.toString.endsWith(".orc")).get
            finally s.close()
          Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
        } finally FileUtils.deleteDirectory(staging.toFile)
        IcebergWrite.AddedFile(target.toString, pv, rows.count(), Files.size(target), None)
      }
    }

    IcebergWrite.commitSnapshot(tableDir, schema,
      partCols.map(IcebergTransforms.parseField), snapshotId, written,
      removes.toSet, addFormat = format)
    written.map(_.path)
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
    val size = DataFiles.writeOne(deletes.toDF("file_path", "pos"), target)
    IcebergWrite.commitSnapshot(tableDir, prev.schema, prev.partitionFields,
      snapshotId, Nil, Set.empty,
      Seq(IcebergWrite.DeleteSpec(target.toString, isEquality = false, Nil,
        deletes.size.toLong, size)), operation = "delete")
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
    val size = DataFiles.writeOne(rows.select(eqCols.map(col): _*), target)
    // count from the written footer — one fewer Spark job per delete
    // snapshot, identical value
    val n = DataFiles.rowCount(spark.sparkContext.hadoopConfiguration, target)
    IcebergWrite.commitSnapshot(tableDir, prev.schema, prev.partitionFields,
      snapshotId, Nil, Set.empty,
      Seq(IcebergWrite.DeleteSpec(target.toString, isEquality = true, ids, n,
        size)), operation = "delete")
  }

}
