package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
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

    IcebergWrite.commitSnapshot(tableDir, schema,
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
    IcebergWrite.commitSnapshot(tableDir, prev.schema, prev.partitionFields,
      snapshotId, Nil, Set.empty,
      Seq(IcebergWrite.DeleteSpec(target.toString, isEquality = false, Nil,
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
    IcebergWrite.commitSnapshot(tableDir, prev.schema, prev.partitionFields,
      snapshotId, Nil, Set.empty,
      Seq(IcebergWrite.DeleteSpec(target.toString, isEquality = true, ids, n,
        Files.size(target))), operation = "delete")
  }

}
