package graft.sources

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Cast, Expression, Literal, PlanExpression, Predicate}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one scan core of the three table formats (TxLogTable, Delta,
  * Iceberg). Each format lists its live files from its own log — Delta
  * log replay, Iceberg manifests, the TxLogTable manifest — and hands
  * them here as [[LiveFile]]s; this module owns everything the formats
  * share after that:
  *
  *  - [[LogFileIndex]], the FileIndex every read plans over: partition
  *    tuples and per-file min/max stats prune files before any task is
  *    scheduled, plus the format's own channel (Iceberg partition
  *    transforms, TxLogTable blooms);
  *  - [[keptFiles]], the files that index keeps for a planned frame —
  *    the pruned file counts oracle rows and tests pin;
  *  - [[scan]], the one relation builder, which also turns on field-id
  *    reads when the schema asks for them;
  *  - [[deleteJoin]], the one row-level-delete applier: deleted rows come
  *    by physical position (Delta deletion vectors, Iceberg position
  *    deletes) or by key (Iceberg equality deletes, TxLogTable key
  *    files), and are removed (`left_anti`) or selected (`left_semi`).
  *
  * A row's file is `__fp` and its physical position `__ri`, taken from
  * `_metadata` only when a caller or a delete needs them: an unused
  * `_metadata` still makes the scan build every metadata field. */
private[graft] object LogScan {

  /** One live data file: its absolute path, its byte size when the log
    * records one (otherwise the file system is asked), its partition
    * tuple as raw strings, and its min/max stats keyed by the scan's
    * column names. */
  final case class LiveFile(path: Path, size: Option[Long] = None,
                            partition: Map[String, String] = Map.empty,
                            stats: Option[StatsSkip.FileStats] = None)

  /** each row's file, as the `_metadata.file_path` string [[qualifiedPath]] gives */
  val FilePath: Column = col("_metadata.file_path").as("__fp")
  /** each row's file and physical index in it */
  val Positions: Seq[Column] = Seq(FilePath, col("_metadata.row_index").as("__ri"))

  /** The relation over `index`, plus the `_metadata` columns `meta`
    * (taken in the same projection as the relation: `_metadata` does not
    * survive an intervening Project). The schema comes from the log, so
    * no footer inference runs. A data schema whose fields carry
    * `parquet.field.id` (Delta id-mode column mapping, an evolved Iceberg
    * schema) turns on Spark's field-id resolution; `ignoreMissing` stays
    * strict, so a file without ids fails loudly instead of reading nulls. */
  def scan(spark: SparkSession, index: LogFileIndex, meta: Seq[Column] = Nil,
           format: FileFormat = new ParquetFileFormat()): DataFrame = {
    if (index.dataSchema.exists(_.metadata.contains("parquet.field.id")))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val df = spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema, index.dataSchema, None, format, Map.empty[String, String])(spark))
    if (meta.isEmpty) df else df.select(col("*") +: meta: _*)
  }

  /** The files the planned scan of `df` reads — the one answer to "which
    * files does this predicate read" on all three formats. `df` is
    * planned (before adaptive execution), its one [[LogFileIndex]] scan
    * found, and that index asked with the scan's own partition and data
    * filters: the call the scan makes, without dynamic-pruning filters.
    * A plan with no or several such scans is rejected
    * (IllegalArgumentException). */
  def keptFiles(df: DataFrame): Seq[Path] = {
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[LogFileIndex] => s
    }
    require(scans.size == 1,
      s"keptFiles needs exactly one LogFileIndex scan in the plan, found ${scans.size}")
    val s = scans.head
    def static(fs: Seq[Expression]) = fs.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]]))
    s.relation.location.listFiles(static(s.partitionFilters), static(s.dataFilters))
      .flatMap(_.files).map(f => Paths.get(f.getPath.toUri))
  }

  /** Qualified scan path of a local data file — the exact string
    * `_metadata.file_path` reports for its rows: scheme + (non-empty)
    * authority + PERCENT-ENCODED path, e.g. `file:/tmp/a%20b/x.parquet`
    * (neither Hadoop's decoded `Path.toString` nor `toUri.toString`'s
    * `file:///` form matches). The one key from a scan row back to its
    * file, for all three formats. */
  def qualifiedPath(spark: SparkSession, p: Path): String = {
    val hPath = new org.apache.hadoop.fs.Path(p.toUri)
    val u = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hPath).toUri
    val auth = Option(u.getAuthority).filter(_.nonEmpty).orNull
    new java.net.URI(u.getScheme, auth, u.getPath, u.getQuery, u.getFragment)
      .toString
  }

  /** Deleted rows of a scan. `count` is the row count the format's
    * metadata gives; up to [[BroadcastRows]] the rows are broadcast,
    * above that the shuffle join is the right shape. */
  sealed trait Deletes { def rows: DataFrame; def count: Long }

  /** `(__del_fp, __del_ri)` pairs, matched against the scan's
    * `(__fp, __ri)`. */
  final case class ByPosition(rows: DataFrame, count: Long) extends Deletes

  /** Key rows under `__del_<key>` names, matched against the scan's `keys`
    * (`=`, or null-safe `<=>`) wherever `gate` holds: the gate limits a
    * delete to the data files it may reach. */
  final case class ByKey(rows: DataFrame, keys: Seq[String], nullSafe: Boolean,
                         gate: Column, count: Long) extends Deletes

  val BroadcastRows = 10_000_000L

  /** `base` joined `how` against `d`: `left_anti` keeps the surviving
    * rows, `left_semi` the deleted ones. */
  def deleteJoin(base: DataFrame, d: Deletes, how: String): DataFrame = {
    val on = d match {
      case _: ByPosition => col("__fp") === col("__del_fp") && col("__ri") === col("__del_ri")
      case k: ByKey =>
        k.keys.map(c => if (k.nullSafe) col(c) <=> col(s"__del_$c")
                        else col(c) === col(s"__del_$c")).reduce(_ && _) && k.gate
    }
    base.join(if (d.count <= BroadcastRows) broadcast(d.rows) else d.rows, on, how)
  }

  /** the rows of `base` no delete in `ds` names */
  def survivors(base: DataFrame, ds: Seq[Deletes]): DataFrame =
    ds.foldLeft(base)(deleteJoin(_, _, "left_anti"))
}

/** The FileIndex over a format's live files. FileSourceScanExec hands its
  * pushed predicates to [[listFiles]], which keeps a file only when three
  * conservative channels all allow it:
  *
  *  - its tuple over `tupleSchema` can satisfy every conjunct that
  *    references tuple columns only (Delta partition columns, Iceberg
  *    identity-partition source columns; a file missing a tuple key — an
  *    Iceberg file from an older spec — is never pruned this way);
  *  - its min/max stats ([[StatsSkip]]), with `mayContain` as the
  *    equality channel (TxLogTable blooms);
  *  - the format's `channel` (Iceberg partition transforms).
  *
  * Files group into one PartitionDirectory per tuple; with a Spark
  * `partitionSchema` (Delta) the tuple is also the directory's partition
  * row, otherwise the partition columns live in the data files.
  * Absent stats or tuples only cost pruning, never rows. */
private[graft] final class LogFileIndex(spark: SparkSession, roots: Seq[Path], files: Seq[LogScan.LiveFile],
                         val dataSchema: StructType,
                         override val partitionSchema: StructType = new StructType(),
                         tupleSchema: StructType = new StructType(),
                         mayContain: LogScan.LiveFile => (AttributeReference, Any) => Boolean =
                           _ => (_, _) => true,
                         channel: (LogScan.LiveFile, Seq[Expression]) => Boolean =
                           (_, _) => true) extends FileIndex {
  import org.apache.hadoop.fs.{FileStatus, Path => HPath}

  private val tz = spark.sessionState.conf.sessionLocalTimeZone
  private val statuses = new java.util.concurrent.ConcurrentHashMap[Path, FileStatus]()
  private def status(f: LogScan.LiveFile): FileStatus =
    statuses.computeIfAbsent(f.path, { p =>
      val h = new HPath(p.toUri)
      h.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(h)
    })

  /** (tuple row, complete, files) per distinct tuple */
  private lazy val groups: Seq[(InternalRow, Boolean, Seq[LogScan.LiveFile])] =
    files.groupBy(f => tupleSchema.fieldNames.toSeq.map(f.partition.get)).values.toSeq
      .map(fs => (tupleRow(fs.head.partition),
        tupleSchema.fieldNames.forall(fs.head.partition.contains), fs))

  /** raw tuple strings → a typed row under `tupleSchema` */
  private def tupleRow(pv: Map[String, String]): InternalRow =
    InternalRow.fromSeq(tupleSchema.fields.toSeq.map { f =>
      pv.get(f.name).filter(v => v != null && v != "__HIVE_DEFAULT_PARTITION__") match {
        case None => null
        case Some(raw) =>
          Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType, Some(tz)).eval(null)
      }
    })

  /** the conjuncts evaluable on a tuple alone, bound to the tuple row */
  private def tuplePredicate(filters: Seq[Expression]): Option[BasePredicate] = {
    val names = tupleSchema.fieldNames.toSet
    filters.filter(_.references.forall(a => names.contains(a.name))).reduceOption(And).map { e =>
      val p = Predicate.createInterpreted(e.transform {
        case a: AttributeReference =>
          val i = tupleSchema.fieldIndex(a.name)
          BoundReference(i, tupleSchema(i).dataType, nullable = true)
      })
      p.initialize(0)
      p
    }
  }

  override def rootPaths: Seq[HPath] = roots.map(r => new HPath(r.toUri))
  override def sizeInBytes: Long = files.map(f => f.size.getOrElse(status(f).getLen)).sum
  override def inputFiles: Array[String] = files.map(_.path.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val onTuple = tuplePredicate(partitionFilters ++ dataFilters)
    groups.collect { case (row, complete, fs) if !complete || onTuple.forall(_.eval(row)) =>
      PartitionDirectory(if (partitionSchema.isEmpty) InternalRow.empty else row,
        fs.filter(f => StatsSkip.keep(f.stats, dataFilters, dataSchema, mayContain(f)) &&
            channel(f, dataFilters))
          .map(f => FileStatusWithMetadata(status(f))))
    }.filter(_.files.nonEmpty)
  }
}
