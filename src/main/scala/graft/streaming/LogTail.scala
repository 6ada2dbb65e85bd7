package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** The file-stream loop both table tails run: Spark's file source over a
  * table's log directory (`glob` picks the log files), one new file per
  * trigger, so micro-batches align with committed versions and the
  * file-stream checkpoint provides resume. Each micro-batch's file names
  * map to versions through `version` (None: not a version file), and
  * `each` runs once per version, in order. Driver-bounded: `wholetext`
  * reads each log file as one row, so a batch collects one row per new
  * log file, never one per log line and never table data. */
private[graft] object LogTail {

  def apply(spark: SparkSession, dir: String, glob: String, checkpoint: String,
            version: String => Option[Long])(each: Long => Unit): StreamingQuery =
    spark.readStream
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", glob)
      .option("wholetext", "true")
      .text(dir)
      .select(col("_metadata.file_path"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().flatMap(r => version(r.getString(0).split('/').last))
          .distinct.sorted.foreach(each)
      }
      .start()
}
