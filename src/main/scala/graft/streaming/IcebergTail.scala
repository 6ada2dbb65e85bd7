package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.IcebergRead

/** Structured-streaming TAIL of an Iceberg table — [[DeltaTail]]'s
  * counterpart for the other open format: a growing Iceberg table
  * (written by [[graft.sources.IcebergWrite]] or any other engine)
  * becomes a micro-batched source without an Iceberg library.
  *
  * The SOURCE is Spark's file stream over the versioned
  * `metadata/v<N>.metadata.json` files ([[LogTail]]) — every commit
  * produces exactly one, so micro-batches align with table versions and
  * the file-stream checkpoint provides resume. Per arriving version the
  * NEW snapshots are [[IcebergRead.newSnapshots]] (none for property
  * changes, rollbacks and [[graft.sources.IcebergWrite.expireSnapshots]]),
  * and each runs the BATCH decision: [[stream]] hands `sink` the rows
  * [[IcebergRead.readAppends]] returns for that snapshot,
  * [[streamChanges]] those of [[IcebergRead.readChanges]]. Exactly-once
  * lands on the snapshot id handed to `sink` (monotone per table), e.g.
  * `TxLogTable.appendOnce(_, _, appId, snapshotId)`. */
object IcebergTail {

  /** Start tailing `tableDir`; `sink(batchDf, snapshotId)` fires once per
    * NEW snapshot that appends files (in commit order within each
    * micro-batch), with its [[IcebergRead.addedDataFiles]] read under the
    * schema pinned at this call. The table must already exist.
    *
    * Scope (declared, mirroring [[DeltaTail.stream]]): APPEND-ONLY — a
    * snapshot that deletes a file or adds a delete manifest fails the
    * stream loudly rather than silently streaming rows a concurrent
    * DELETE/OVERWRITE suppressed. */
  def stream(spark: SparkSession, tableDir: String, checkpoint: String,
             sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val snap0 = IcebergRead.snapshot(tableDir)
    LogTail(spark, s"$tableDir/metadata", "v*.metadata.json", checkpoint,
        IcebergRead.metadataVersion) { v =>
      IcebergRead.newSnapshots(tableDir, v).foreach { case (sid, sn) =>
        val added = IcebergRead.addedDataFiles(tableDir, sn)
        if (added.nonEmpty) sink(IcebergRead.readFiles(spark, snap0, added), sid)
      }
    }
  }

  /** CHANGELOG tail: like [[stream]], but every new snapshot — appends,
    * OVERWRITEs, MoR DELETEs — arrives as a CHANGE batch with
    * `_change_type`/`_snapshot_id` columns: its
    * [[IcebergRead.snapshotChanges]], the per-snapshot body of
    * [[IcebergRead.readChanges]] (`replace` compactions contribute
    * nothing). `sink(changeDf, snapshotId)` fires once per new snapshot
    * with at least one change row. */
  def streamChanges(spark: SparkSession, tableDir: String, checkpoint: String,
                    sink: (DataFrame, Long) => Unit): StreamingQuery =
    LogTail(spark, s"$tableDir/metadata", "v*.metadata.json", checkpoint,
        IcebergRead.metadataVersion) { v =>
      val added = IcebergRead.newSnapshots(tableDir, v)
      if (added.nonEmpty) {
        val head = IcebergRead.snapshot(tableDir)
        added.foreach { case (sid, sn) =>
          IcebergRead.snapshotChanges(spark, tableDir, head, sn)
            .filterNot(_.isEmpty).foreach(sink(_, sid))
        }
      }
    }
}
