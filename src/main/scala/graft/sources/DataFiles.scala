package graft.sources

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._

/** The one data-file writer of the three table formats (TxLogTable, Delta,
  * Iceberg) and the one parquet footer reader behind their per-file
  * statistics. A frame becomes data files in one distributed parquet
  * write; this module owns everything the formats share around it:
  *
  *  - [[write]]: the write into a fresh directory, listed in path order,
  *    each file's hive directories decoded back into its partition tuple;
  *  - [[stage]]: [[write]] into a uuid `_staging_*` directory under a
  *    table root, every file moved (same filesystem, metadata-only) to
  *    the path its format names, the staging directory removed whether
  *    the write succeeds or fails;
  *  - [[writeOne]]: exactly one file at a given path (checkpoints, delete
  *    files, test fixtures), staged beside it;
  *  - [[footerRanges]]: typed min/max/null counts from a written file's
  *    footer, read once per file on the driver.
  *
  * Each format keeps its own file naming and its own log entry: Delta
  * `add`/`cdc` actions, Iceberg manifest entries, TxLogTable manifest
  * lines. */
private[graft] object DataFiles {

  /** One written file: its path relative to the write directory as it is
    * on disk (hive-escaped), its decoded partition tuple (a null value
    * for Hive's default-partition directory) and its byte size. */
  final case class Written(rel: String, partition: Map[String, String], size: Long)

  /** One staged file: its path relative to the table root, its decoded
    * partition tuple, its byte size and, when asked for, its footer
    * ranges over the [[portableType]] columns. */
  final case class Staged(rel: String, partition: Map[String, String], size: Long,
                          ranges: Option[FooterRanges])

  /** One distributed parquet write of `df` into `dir` (hive directories
    * per `partitionBy` column). Returns every written file in path order;
    * a file whose directories do not name exactly `partitionBy` is
    * rejected. */
  def write(df: DataFrame, dir: Path, partitionBy: Seq[String]): Seq[Written] = {
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir.toString)
    val s = Files.walk(dir)
    val files =
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
      finally s.close()
    files.map { p =>
      val rel = dir.relativize(p)
      val segs = (0 until rel.getNameCount).map(rel.getName(_).toString)
      val pv = segs.dropRight(1).map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"written path $rel is not hive-layout under partitionBy")
        val raw = ExternalCatalogUtils.unescapePathName(seg.substring(eq + 1))
        seg.substring(0, eq) ->
          (if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null else raw)
      }.toMap
      require(pv.keySet == partitionBy.toSet,
        s"written path $rel carries partitions ${pv.keySet}, expected $partitionBy")
      Written(segs.mkString("/"), pv, Files.size(p))
    }
  }

  /** [[write]] `df` into a fresh `_staging_<uuid>` directory under `root`
    * (racing writers never share one), then move the `i`-th file to
    * `root.resolve(place(file, i))`. With `stats`, each moved file's
    * footer is read once for the ranges of those columns. The staging
    * directory is removed in every case, so a failed write leaves no
    * residue a vacuum would have to know about. */
  def stage(df: DataFrame, root: Path, partitionBy: Seq[String],
            stats: Option[StructType] = None)
           (place: (Written, Int) => String): Seq[Staged] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val staging = root.resolve(s"_staging_${UUID.randomUUID()}")
    try write(df, staging, partitionBy).zipWithIndex.map { case (w, i) =>
      val rel = place(w, i)
      val target = root.resolve(rel)
      Files.createDirectories(target.getParent)
      Files.move(staging.resolve(w.rel), target, StandardCopyOption.REPLACE_EXISTING)
      Staged(rel, w.partition, w.size, stats.flatMap(portableRanges(conf, target, _)))
    }
    finally removeStaging(staging)
  }

  /** Write `df` as exactly one parquet file at `target`; returns its size.
    * The file is staged in a sibling directory (same filesystem, so the
    * move is a rename), which is removed whether the write succeeds or
    * fails. */
  def writeOne(df: DataFrame, target: Path): Long = {
    val staging = target.getParent.resolve(s"_staging_${UUID.randomUUID()}")
    Files.createDirectories(target.getParent)
    try {
      val written = write(df.coalesce(1), staging, Nil)
      require(written.size == 1,
        s"expected one parquet file for $target, got ${written.size}")
      Files.move(staging.resolve(written.head.rel), target,
        StandardCopyOption.REPLACE_EXISTING)
      written.head.size
    } finally removeStaging(staging)
  }

  /** Remove `dir` and everything under it. After a failed job a killed
    * task can still be removing its attempt files while this sweeps, so a
    * sweep that races it is repeated; a directory that still cannot be
    * removed is logged, never thrown, so the write's own failure is the
    * one the caller sees. */
  private def removeStaging(dir: Path): Unit = {
    var sweeps = 0
    while (Files.exists(dir) && sweeps < 10) {
      sweeps += 1
      try {
        val s = Files.walk(dir)
        try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally s.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => Thread.sleep(50)
      }
    }
    if (Files.exists(dir))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(s"could not remove $dir")
  }

  /** Typed per-file statistics from one parquet footer — the ONE footer
    * reader behind Delta `add.stats`, Iceberg manifest
    * `lower_bounds`/`upper_bounds` and TxLogTable's `#fstat` lines,
    * driver-side and bounded by #files-per-commit. Row-group chunk
    * statistics are VALID BOUNDS by the parquet spec even when the writer
    * truncated them (min rounds down, max rounds up), so [[StatsSkip]]'s
    * interval tests stay sound. Values: Long (integrals), Double
    * (fractionals), String (strings; dates as ISO), Boolean,
    * java.math.BigDecimal (decimals) and Long epoch micros (timestamps,
    * with or without time zone). A column that is all-null in the file
    * gets no min/max but a full nullCount, which is exactly what IsNotNull
    * skipping needs; `unbounded` names the columns that hold values but
    * whose footer gives no usable bounds (INT96 timestamps, NANOS, a
    * writer that dropped stats). */
  final case class FooterRanges(numRecords: Long,
      mins: Map[String, Any], maxs: Map[String, Any],
      nulls: Map[String, Long], unbounded: Set[String]) {
    def stats: StatsSkip.FileStats = {
      import com.fasterxml.jackson.databind.JsonNode
      import com.fasterxml.jackson.databind.node.{BooleanNode, DecimalNode, DoubleNode, LongNode, TextNode}
      def conv(m: Map[String, Any]): Map[String, JsonNode] = m.flatMap {
        case (k, l: java.lang.Long) => Some(k -> LongNode.valueOf(l))
        case (k, d: java.lang.Double) => Some(k -> DoubleNode.valueOf(d))
        case (k, b: java.lang.Boolean) => Some(k -> BooleanNode.valueOf(b))
        case (k, s: String) => Some(k -> TextNode.valueOf(s))
        case (k, d: java.math.BigDecimal) => Some(k -> DecimalNode.valueOf(d))
        case _ => None
      }
      StatsSkip.FileStats(numRecords, conv(mins), conv(maxs), nulls)
    }
  }

  /** the column types Delta `add.stats` and Iceberg bounds carry:
    * integral, float/double, string, boolean, date (ISO). Timestamps,
    * decimals, binary and nested types are omitted — a missing stat
    * never skips. */
  private def portableType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType => true
    case _ => false
  }

  /** [[footerRanges]] over the [[portableType]] columns only. */
  def portableRanges(conf: Configuration, file: Path,
                     dataSchema: StructType): Option[FooterRanges] =
    footerRanges(conf, file, StructType(dataSchema.filter(f => portableType(f.dataType))))

  def footerRanges(conf: Configuration, file: Path,
                   dataSchema: StructType): Option[FooterRanges] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val supported = dataSchema.fields.filter(f => portableType(f.dataType) ||
      (f.dataType match {
        case _: DecimalType | TimestampType | TimestampNTZType => true
        case _ => false
      }))
    val hPath = new org.apache.hadoop.fs.Path(file.toUri)
    val rdr = try ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf))
    catch { case _: Exception => return None }
    try {
      val blocks = rdr.getFooter.getBlocks
      val numRecords = blocks.asScala.map(_.getRowCount).sum
      val mins = scala.collection.mutable.LinkedHashMap[String, Any]()
      val maxs = scala.collection.mutable.LinkedHashMap[String, Any]()
      val nulls = scala.collection.mutable.LinkedHashMap[String, Long]()
      val unbounded = Set.newBuilder[String]
      supported.foreach { f =>
        var nullCount = 0L
        var nullsKnown = true
        var lo: Any = null
        var hi: Any = null
        var rangeKnown = true
        var hasValues = false
        var prim: org.apache.parquet.schema.PrimitiveType = null
        blocks.asScala.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == f.name) match {
            case None => nullsKnown = false; rangeKnown = false
            case Some(c) =>
              prim = c.getPrimitiveType
              val st = c.getStatistics
              if (st == null || st.isEmpty) {
                nullsKnown = false; rangeKnown = false
                if (b.getRowCount > 0) hasValues = true
              } else {
                if (st.isNumNullsSet) nullCount += st.getNumNulls else nullsKnown = false
                if (st.hasNonNullValue) {
                  hasValues = true
                  val (mn, mx) = (st.genericGetMin, st.genericGetMax)
                  if (lo == null || cmpStat(mn, lo, f.dataType) < 0) lo = mn
                  if (hi == null || cmpStat(mx, hi, f.dataType) > 0) hi = mx
                } else if (!st.isNumNullsSet || st.getNumNulls < b.getRowCount) {
                  rangeKnown = false // values exist but no bounds — unusable
                  hasValues = true
                }
              }
          }
        }
        val (mn, mx) =
          if (rangeKnown && lo != null)
            (typedStat(lo, f.dataType, prim), typedStat(hi, f.dataType, prim))
          else (null, null)
        if (mn != null && mx != null) { mins(f.name) = mn; maxs(f.name) = mx }
        else if (hasValues) unbounded += f.name
        if (nullsKnown) nulls(f.name) = nullCount
      }
      Some(FooterRanges(numRecords, mins.toMap, maxs.toMap, nulls.toMap,
        unbounded.result()))
    } catch { case _: Exception => None }
    finally rdr.close()
  }

  /** parquet footer min/max values are Comparable within a column's
    * physical type — except Binary, whose order depends on the column:
    * strings combine in UNSIGNED lexicographic order (Spark's string
    * order; Binary.compareTo has had signed-byte history across
    * parquet-mr versions), while a DECIMAL stored as binary is a SIGNED
    * big-endian two's-complement integer — combining those unsigned would
    * let mixed-sign row groups store min > true min. */
  private def cmpStat(a: Any, b: Any, dt: DataType): Int = (a, b) match {
    case (x: org.apache.parquet.io.api.Binary, y: org.apache.parquet.io.api.Binary) =>
      if (dt.isInstanceOf[DecimalType])
        new java.math.BigInteger(x.getBytes).compareTo(new java.math.BigInteger(y.getBytes))
      else org.apache.spark.unsafe.types.UTF8String.fromBytes(x.getBytes)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromBytes(y.getBytes))
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** footer value → the typed domain of [[FooterRanges]]; null when the
    * physical encoding does not match the column type exactly (the
    * column then counts as unbounded). */
  private def typedStat(v: Any, dt: DataType,
                        prim: org.apache.parquet.schema.PrimitiveType): Any = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.{DecimalLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
    (dt, v, prim.getLogicalTypeAnnotation) match {
      case (DateType, i: Number, _) =>
        java.time.LocalDate.ofEpochDay(i.longValue).toString
      case (StringType, b: Binary, _) => b.toStringUsingUTF8
      case (ByteType | ShortType | IntegerType | LongType, n: Number, _) =>
        java.lang.Long.valueOf(n.longValue)
      case (FloatType | DoubleType, n: Number, _) =>
        java.lang.Double.valueOf(n.doubleValue)
      case (BooleanType, b: java.lang.Boolean, _) => b
      case (_: DecimalType, n: Number, d: DecimalLogicalTypeAnnotation) =>
        java.math.BigDecimal.valueOf(n.longValue, d.getScale)
      case (_: DecimalType, b: Binary, d: DecimalLogicalTypeAnnotation) =>
        new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.getScale)
      case (TimestampType | TimestampNTZType, n: java.lang.Long, t: TimestampLogicalTypeAnnotation)
          if t.isAdjustedToUTC == (dt == TimestampType) =>
        t.getUnit match {
          case TimeUnit.MICROS => n
          case TimeUnit.MILLIS => java.lang.Long.valueOf(Math.multiplyExact(n.longValue, 1000L))
          case _ => null // NANOS: Spark reads these as BIGINT, not timestamps
        }
      case _ => null
    }
  }

  /** The record count from `file`'s footer (driver-side, exact, no Spark
    * job). */
  def rowCount(conf: Configuration, file: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rdr = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf))
    try rdr.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally rdr.close()
  }
}
