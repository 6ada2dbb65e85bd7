package perfbench

import org.apache.spark.sql.DataFrame

import graft.runtime.{TxLogTable, VaultStore}

/** A [[VaultStore]] that forwards to a [[TxLogTable]] and records a span
  * around each call: `txlog.commit` for append/overwrite, `txlog.open` for
  * reads. The Runner sees an ordinary store. */
final class TimedStore(val table: TxLogTable) extends VaultStore {
  def baseDir: String = table.baseDir
  def exists(name: String): Boolean = Trace.span("txlog.open")(table.exists(name))
  def read(name: String): DataFrame = Trace.span("txlog.open")(table.read(name))
  def readIfExists(name: String): Option[DataFrame] =
    Trace.span("txlog.open")(table.readIfExists(name))
  def append(name: String, df: DataFrame): Unit =
    Trace.span("txlog.commit")(table.append(name, df))
  def overwrite(name: String, df: DataFrame): Unit =
    Trace.span("txlog.commit")(table.overwrite(name, df))
}

object TimedStore {
  /** `txlog.versions` and `txlog.live_files`: Σ committed versions and
    * Σ live data files over the tables `names` of `table`. */
  def gauges(table: TxLogTable, names: Seq[String]): Map[String, Double] = {
    val (versions, files) = names.filter(table.exists).foldLeft((0L, 0L)) { case ((v, f), n) =>
      val vs = table.versions(n)
      (v + vs.size, f + table.files(n, vs.last).size)
    }
    Map("txlog.versions" -> versions.toDouble, "txlog.live_files" -> files.toDouble)
  }
}
