package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.DeltaRead

/** Structured-streaming TAIL of a Delta table's transaction log — the
  * batch/streaming parity story the engine already tells for its own tx
  * log (`txLogSink`), extended over the interop seam: a growing Delta
  * table (written by [[graft.sources.DeltaWrite]] or any other engine)
  * becomes a micro-batched source without a Delta library.
  *
  * The SOURCE is Spark's own file stream over the `_delta_log` commit
  * JSONs ([[LogTail]]) — each one is a single arrival, so micro-batches
  * align with committed versions and the file-stream checkpoint provides
  * resume. Each committed version runs the BATCH decision: [[stream]]
  * hands `sink` the rows [[DeltaRead.readAppends]] returns for that
  * version, [[streamChanges]] those of [[DeltaRead.readChangeFeed]].
  * Exactly-once lands on the version number: with a sink like
  * `TxLogTable.appendOnce(_, _, appId, version)` a checkpoint wipe + full
  * redelivery collapses to one committed copy, because versions are
  * monotone per table. */
object DeltaTail {

  /** Start tailing `tableDir`; `sink(batchDf, version)` fires once per
    * committed version that appends files (in order within each
    * micro-batch), with that version's [[DeltaRead.appendedFiles]] read
    * under the schema pinned at this call (one log replay per stream).
    * The table must already exist.
    *
    * Scope (declared, matching Delta's own streaming source defaults):
    * APPEND-ONLY — a dataChange remove action or a deletion vector in the
    * tail fails the stream loudly rather than silently streaming rows
    * that a concurrent DELETE suppressed; dataChange=false commits
    * (OPTIMIZE / compaction) pass through as no-ops. [[streamChanges]]
    * also serves DELETE/OVERWRITE versions, as change batches. */
  def stream(spark: SparkSession, tableDir: String, checkpoint: String,
             sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val snap0 = DeltaRead.snapshot(tableDir)
    LogTail(spark, s"$tableDir/_delta_log", "*.json", checkpoint, DeltaRead.commitVersion) { v =>
      val adds = DeltaRead.appendedFiles(tableDir, snap0.columnMapping, v - 1, v)
      if (adds.nonEmpty) sink(DeltaRead.readFiles(spark, tableDir, snap0, adds), v)
    }
  }

  /** CDF tail: like [[stream]], but every committed version — appends,
    * OVERWRITEs, DV DELETEs with change data — arrives as a CHANGE batch
    * with the protocol's `_change_type` / `_commit_version` columns:
    * [[DeltaRead.readChangeFeed]] of that one version (cdc actions
    * authoritative when present; add/remove synthesis otherwise;
    * dataChange=false compactions contribute nothing). A downstream that
    * upserts/deletes by key can mirror the table instead of dying at its
    * first DELETE.
    *
    * `sink(changeDf, version)` fires once per version with at least one
    * change row. Versions already committed when the stream starts are
    * replayed from `fromVersion + 1` on (default: everything). */
  def streamChanges(spark: SparkSession, tableDir: String, checkpoint: String,
                    sink: (DataFrame, Long) => Unit,
                    fromVersion: Long = -1L): StreamingQuery =
    LogTail(spark, s"$tableDir/_delta_log", "*.json", checkpoint, DeltaRead.commitVersion) { v =>
      if (v > fromVersion) {
        val changes = DeltaRead.readChangeFeed(spark, tableDir, v - 1, v)
        if (!changes.isEmpty) sink(changes, v)
      }
    }
}
