package graft.runtime

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** The materialization contract the [[Runner]] schedules against — dbt's
  * {is_incremental(), {{ this }}, full-refresh} protocol that every
  * reference macro leans on (e.g. `macros/tables/databricks/hub.sql:44,
  * 165-179`), implemented by the transactional [[TxLogTable]].
  */
trait VaultStore {
  def baseDir: String
  def exists(name: String): Boolean
  def read(name: String): DataFrame
  def readIfExists(name: String): Option[DataFrame]
  /** incremental insert (S6) */
  def append(name: String, df: DataFrame): Unit
  /** table materialization / full refresh (S5) */
  def overwrite(name: String, df: DataFrame): Unit

  /** Table names present in the warehouse (directories that pass the
    * [[exists]] probe). */
  def tables: Seq[String] = {
    val base = Paths.get(baseDir)
    if (!Files.isDirectory(base)) Nil
    else {
      val s = Files.list(base)
      try {
        val it = s.filter(f => Files.isDirectory(f)).iterator()
        val buf = Seq.newBuilder[String]
        while (it.hasNext) buf += it.next().getFileName.toString
        buf.result().filter(exists).sorted
      } finally s.close()
    }
  }

  /** Register every warehouse table as a session temp view (optionally
    * prefixed) — the dbt-user surface: vault entities are tables you
    * SELECT from, so the whole vault becomes queryable from plain
    * `spark.sql`. Views are lazy scans; registration reads no data. */
  def registerViews(prefix: String = ""): Unit =
    tables.foreach(n => read(n).createOrReplaceTempView(prefix + n))
}
