package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: `graft.Bench`, `graft.Verify`, the
  * `graft.tools` mains (`Explain`, `Demo`) and the tests (`SparkSpec`)
  * all start from it, and each adds only the settings it alone needs
  * (the tests pin 4 cores and 4 shuffle partitions). `SPARK_GRAFT_CPUS`
  * (default 4) sets the cores and the shuffle partitions. */
object LocalSpark {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // year-0001/8888 sentinel timestamps need proleptic-Gregorian parquet
      // (matches DuckDB's reading) — see SURVEY §7.5-4
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      // standard INT64-micros timestamps: tx-table timestamp stats are
      // parquet-footer-readable (TxLogTable batchStats) instead of INT96,
      // whose footer stats are unusable
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // some events.parquet vintages carried TIMESTAMP(NANOS), readable only
      // under this flag (as BIGINT nanos); no-op for the current
      // timestamp[us] files. SimQueries.events adapts to either surface.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
}
