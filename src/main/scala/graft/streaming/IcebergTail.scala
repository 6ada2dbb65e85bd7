package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.IcebergRead

/** Structured-streaming TAIL of an Iceberg table — [[DeltaTail]]'s
  * counterpart for the other open format: a growing Iceberg table
  * (written by [[graft.sources.IcebergWrite]] or any other engine)
  * becomes a micro-batched source without an Iceberg library.
  *
  * The SOURCE is Spark's file stream over the versioned
  * `metadata/v<N>.metadata.json` files — every commit produces exactly
  * one, so micro-batches align with table versions and the file-stream
  * checkpoint provides resume. Per arriving version the NEW snapshots
  * are the ids in its `snapshots` array that version N-1's array lacks
  * (computed from the on-disk previous metadata — restart-safe and
  * naturally a no-op for versions that add no snapshot: property
  * changes, [[graft.sources.IcebergWrite.expireSnapshots]]). A new
  * snapshot's APPENDED data files are its manifest entries with
  * status 1 (ADDED) — Iceberg's manifests mark per-snapshot deltas
  * explicitly, so no add/remove replay is needed. Data files CONTAIN
  * their partition columns (the spec's layout), so the batch is one
  * distributed read per file format, no partition-value restoration.
  *
  * Scope (declared, mirroring [[DeltaTail.stream]]): APPEND-ONLY tails —
  * a status-2 (DELETED) entry or an added delete manifest in a new
  * snapshot raises loudly rather than silently streaming rows a
  * concurrent DELETE/OVERWRITE suppressed; carried (status 0) entries
  * pass through as no-ops. Schema is pinned at stream start: the batch
  * is [[IcebergRead.readFiles]] under that snapshot's scan schema.
  * Exactly-once lands on the snapshot id handed to `sink` (monotone per
  * table), e.g. `TxLogTable.appendOnce(_, _, appId, snapshotId)`. */
object IcebergTail {

  private val mapper = new ObjectMapper()

  /** Start tailing `tableDir`; `sink(batchDf, snapshotId)` fires once per
    * NEW snapshot (in commit order within each micro-batch). The table
    * must already exist — its schema is pinned at this call. */
  def stream(spark: SparkSession, tableDir: String, checkpoint: String,
             sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val snap0 = IcebergRead.snapshot(tableDir)
    val metaDir = java.nio.file.Paths.get(tableDir).resolve("metadata")

    val arrivals = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "v*.metadata.json")
      .text(metaDir.toString)
      .select(col("_metadata.file_path").as("__src"))

    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // driver-bounded: one row per LINE of the metadata files in this
        // trigger (metadata size, never table data)
        val versions = batch.collect().map { r =>
          r.getString(0).split('/').last
            .stripPrefix("v").stripSuffix(".metadata.json").toLong
        }.distinct.sorted
        versions.foreach { v =>
          newSnapshots(metaDir, v).foreach { sn =>
            val added = IcebergRead.addedDataFiles(tableDir, sn)
            if (added.nonEmpty)
              sink(IcebergRead.readFiles(spark, snap0, added), sn.get("snapshot-id").asLong)
          }
        }
      }
      .start()
  }

  /** CHANGELOG tail: like [[stream]], but every new snapshot — appends,
    * OVERWRITEs, MoR DELETEs — arrives as a CHANGE batch with
    * `_change_type`/`_snapshot_id` columns served through
    * [[IcebergRead.readChanges]]' per-snapshot classification
    * (`replace` compactions contribute nothing) —
    * [[DeltaTail.streamChanges]]'s sibling, completing the MoR
    * streaming consumption story on the Iceberg side. `sink(changeDf,
    * snapshotId)` fires once per new snapshot with at least one change
    * row. */
  def streamChanges(spark: SparkSession, tableDir: String, checkpoint: String,
                    sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val metaDir = java.nio.file.Paths.get(tableDir).resolve("metadata")
    val arrivals = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "v*.metadata.json")
      .text(metaDir.toString)
      .select(col("_metadata.file_path").as("__src"))

    arrivals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val versions = batch.collect().map { r =>
          r.getString(0).split('/').last
            .stripPrefix("v").stripSuffix(".metadata.json").toLong
        }.distinct.sorted
        versions.foreach { v =>
          newSnapshots(metaDir, v).foreach { sn =>
            val sid = sn.get("snapshot-id").asLong
            // from = sid's TRUE parent (the spec's parent-snapshot-id —
            // correct across rollback), so each batch computes exactly
            // ONE snapshot's delta (never O(history)); array
            // predecessor only for legacy linear lineages without it
            val prev = Option(sn.get("parent-snapshot-id")).map(_.asLong)
              .getOrElse {
                val p = metaDir.resolve(s"v$v.metadata.json")
                val ids = mapper.readTree(java.nio.file.Files.readString(p))
                  .get("snapshots").elements()
                var pr = 0L
                var found = false
                while (ids.hasNext && !found) {
                  val id = ids.next().get("snapshot-id").asLong
                  if (id == sid) found = true else pr = id
                }
                pr
              }
            val changes = IcebergRead.readChanges(spark, tableDir, prev, sid)
            if (!changes.isEmpty) sink(changes, sid)
          }
        }
      }
      .start()
  }

  /** The snapshot nodes metadata version `v` carries that version `v-1`
    * did not (by id, in array order). Version 1 contributes everything.
    * Reads the previous version from disk — the spec keeps superseded
    * metadata files in place, which makes the diff restart-safe without
    * stream-side state. */
  private def newSnapshots(metaDir: java.nio.file.Path, v: Long)
      : Seq[com.fasterxml.jackson.databind.JsonNode] = {
    import scala.jdk.CollectionConverters._
    def snaps(version: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val p = metaDir.resolve(s"v$version.metadata.json")
      if (!java.nio.file.Files.exists(p)) Nil
      else Option(mapper.readTree(java.nio.file.Files.readString(p))
        .get("snapshots")).toSeq.flatMap(_.elements().asScala)
    }
    val prevIds = if (v <= 1) Set.empty[Long]
      else snaps(v - 1).map(_.get("snapshot-id").asLong).toSet
    snaps(v).filterNot(sn => prevIds.contains(sn.get("snapshot-id").asLong))
  }

}
