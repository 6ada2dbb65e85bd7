package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.DeltaRead

/** Structured-streaming TAIL of a Delta table's transaction log — the
  * batch/streaming parity story the engine already tells for its own tx
  * log (`txLogSink`), extended over the interop seam: a growing Delta
  * table (written by [[graft.sources.DeltaWrite]] or any other engine)
  * becomes a micro-batched source without a Delta library.
  *
  * The SOURCE is Spark's own file stream over the `_delta_log` commit
  * JSONs — each one is a single arrival, so micro-batches align with committed
  * versions and the file-stream checkpoint provides resume. Inside each
  * micro-batch the commit's `add` actions (driver-bounded: actions per
  * commit, never table data) are resolved to a DISTRIBUTED parquet read
  * with partition values restored from the log, and handed to `sink`
  * together with the commit version. Exactly-once lands on the version
  * number: with a sink like `TxLogTable.appendOnce(_, _, appId, version)`
  * a checkpoint wipe + full redelivery collapses to one committed copy,
  * because versions are monotone per table.
  *
  * Scope (declared, matching Delta's own streaming source defaults):
  * APPEND-ONLY tails — a dataChange remove action or a deletion vector
  * in the tail raises loudly rather than silently streaming rows that a
  * concurrent DELETE suppressed (dataChange=false commits — OPTIMIZE /
  * compaction — pass through as no-ops, per the protocol they rearrange
  * existing rows); schema is pinned at stream start. Column-mapped
  * tables read their files by PHYSICAL name and alias back to logical,
  * the same seam [[DeltaRead.readAppends]] uses. [[streamChanges]] is
  * the sibling that also serves DELETE/OVERWRITE versions — as CDF
  * change batches instead of failing. */
object DeltaTail {

  private val mapper = new ObjectMapper()

  /** Start tailing `tableDir`; `sink(batchDf, version)` fires once per
    * committed version (in order within each micro-batch). The table must
    * already exist — its log schema is pinned at this call. */
  def stream(spark: SparkSession, tableDir: String, checkpoint: String,
             sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val snap0 = DeltaRead.snapshot(tableDir)

    val lines = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.json")
      .text(s"$tableDir/_delta_log")
      .select(col("value"), col("_metadata.file_path").as("__src"))

    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // driver-bounded: one row per log LINE of the commits in this
        // trigger (actions per commit), never data rows
        val rows = batch.collect()
        val byVersion = rows
          .groupBy { r =>
            val name = r.getString(1).split('/').last
            name.stripSuffix(".json").toLong
          }
          .toSeq.sortBy(_._1)
        byVersion.foreach { case (version, ls) =>
          val adds = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()
          ls.foreach { r =>
            val line = r.getString(0)
            if (line.nonEmpty) {
              val node = mapper.readTree(line)
              require(!node.has("remove") || !dataChange(node.get("remove")),
                s"DeltaTail is append-only: version $version carries a dataChange " +
                  "remove action (overwrite/delete) — use streamChanges, or restart " +
                  "the tail from a fresh snapshot, instead of silently streaming " +
                  "suppressed rows")
              if (node.has("add") && dataChange(node.get("add"))) {
                val a = node.get("add")
                require(!a.has("deletionVector") || a.get("deletionVector").isNull,
                  s"DeltaTail is append-only: version $version adds a deletion vector")
                val toLogical = snap0.columnMapping.map(_.swap)
                val pv = Option(a.get("partitionValues")).map { o =>
                  scala.jdk.CollectionConverters.IteratorHasAsScala(o.fieldNames())
                    .asScala.map(k => toLogical.getOrElse(k, k) ->
                      (if (o.get(k).isNull) null else o.get(k).asText())).toMap
                }.getOrElse(Map.empty[String, String])
                adds += ((decodePath(a.get("path").asText), pv))
              }
            }
          }
          // one distributed read of the commit's files, under the pinned
          // schema, partition values restored from the log
          if (adds.nonEmpty) sink(DeltaRead.readFiles(spark, tableDir, snap0, adds.toSeq), version)
        }
      }
      .start()
  }

  /** CDF tail: like [[stream]], but every committed version — appends,
    * OVERWRITEs, DV DELETEs with change data — arrives as a CHANGE batch
    * with the protocol's `_change_type` / `_commit_version` columns,
    * served through [[DeltaRead.readChangeFeed]]'s per-version synthesis
    * (cdc actions authoritative when present; add/remove synthesis
    * otherwise; dataChange=false compactions contribute nothing). The
    * completion of the streaming consumption story for MoR tables: a
    * downstream that upserts/deletes by key can mirror the table instead
    * of dying at its first DELETE.
    *
    * `sink(changeDf, version)` fires once per version with at least one
    * change row. Versions already committed when the stream starts are
    * replayed from `fromVersion + 1` on (default: everything). */
  def streamChanges(spark: SparkSession, tableDir: String, checkpoint: String,
                    sink: (DataFrame, Long) => Unit,
                    fromVersion: Long = -1L): StreamingQuery = {
    val lines = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.json")
      .text(s"$tableDir/_delta_log")
      .select(col("_metadata.file_path").as("__src"))

    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // driver-bounded: one row per commit FILE in this trigger
        val versions = batch.collect().map { r =>
          r.getString(0).split('/').last.stripSuffix(".json").toLong
        }.distinct.sorted.filter(_ > fromVersion)
        versions.foreach { version =>
          val changes =
            DeltaRead.readChangeFeed(spark, tableDir, version - 1, version)
          if (!changes.isEmpty) sink(changes, version)
        }
      }
      .start()
  }

  /** Absent dataChange reads as true — same conservative default as
    * [[DeltaRead]]: a real change treated as a no-op loses rows. */
  private def dataChange(action: com.fasterxml.jackson.databind.JsonNode): Boolean =
    Option(action.get("dataChange")).forall(_.asBoolean(true))

  private def decodePath(raw: String): String =
    try {
      val u = new java.net.URI(raw)
      if (u.getPath == null || u.getPath.isEmpty) raw else u.getPath
    } catch { case _: java.net.URISyntaxException => raw }
}
