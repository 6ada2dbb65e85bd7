package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Per-file data skipping over Delta `add.stats` (numRecords / minValues /
  * maxValues / nullCount — the protocol's optional per-file column stats).
  * The one min/max evaluator of all three formats: Iceberg manifest bounds
  * and TxLogTable's `#fstat` lines are read into the same [[FileStats]].
  *
  * [[LogFileIndex.listFiles]] receives the scan's pushed dataFilters and
  * asks, per live file, "can any row of this file satisfy them?" — a file
  * whose [min, max] interval provably excludes every matching value is
  * never scheduled. At 100 TB this is the scan economy for NON-partition
  * predicates (partition pruning already covers the layout columns): a
  * range-clustered corpus answers a key-range query touching O(matching
  * files), not O(table).
  *
  * Soundness rules (the only hard requirement — stats are OPTIONAL in the
  * spec, so a reader must stay correct when they're absent):
  *  - unknown expression shape, missing stat, unsupported type ⇒ KEEP;
  *  - And/Or recurse; Not and casts are kept conservatively;
  *  - string bounds compare in UTF8 binary order (Spark's own ordering);
  *    a bound only has to BOUND the file's values, so a truncated one
  *    (min rounded down, max rounded up — what the parquet spec demands
  *    of truncated chunk statistics, read by [[DataFiles.FooterRanges]])
  *    is as sound as an exact one, for the interval tests and for
  *    StartsWith's prefix-wise compare alike.
  *
  * Null semantics: comparisons/EqualTo are null-rejecting, so a file whose
  * column is ALL null (nullCount == numRecords) can be skipped for them;
  * IsNull keeps a file iff nullCount > 0 (or unknown); IsNotNull keeps
  * unless all-null. */
object StatsSkip {

  /** Stats of one file, as parsed JSON (typing is deferred to the table
    * schema at evaluation time). */
  final case class FileStats(numRecords: Long, min: Map[String, JsonNode],
                             max: Map[String, JsonNode], nullCount: Map[String, Long]) {
    /** the stats as `add.stats` JSON */
    def json: String = {
      val n = mapper.createObjectNode()
      n.put("numRecords", numRecords)
      val mn = n.putObject("minValues")
      min.foreach { case (k, v) => mn.set[JsonNode](k, v) }
      val mx = n.putObject("maxValues")
      max.foreach { case (k, v) => mx.set[JsonNode](k, v) }
      val nc = n.putObject("nullCount"); nullCount.foreach { case (k, v) => nc.put(k, v) }
      mapper.writeValueAsString(n)
    }
    /** the same stats with every column renamed by `f` */
    def rename(f: String => String): FileStats =
      copy(min = min.map { case (k, v) => f(k) -> v }, max = max.map { case (k, v) => f(k) -> v },
        nullCount = nullCount.map { case (k, v) => f(k) -> v })
  }

  object FileStats {
    /** an `add.stats`-shaped JSON object back to stats; None without
      * numRecords */
    def parse(n: JsonNode): Option[FileStats] = {
      if (!n.has("numRecords")) return None
      def objMap(field: String): Map[String, JsonNode] =
        Option(n.get(field)).filter(_.isObject).toSeq.flatMap { o =>
          o.fieldNames().asScala.map(k => k -> o.get(k)).toSeq
        }.toMap
      Some(FileStats(n.get("numRecords").asLong,
        objMap("minValues"), objMap("maxValues"),
        objMap("nullCount").collect { case (k, v) if v.isIntegralNumber => k -> v.asLong }))
    }
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val Unknown = FileStats(0L, Map.empty, Map.empty, Map.empty)

  /** true ⇔ the file may contain a row satisfying ALL `filters`.
    * `mayContain(a, v)` is an optional second channel for equality and
    * IN (a per-file Bloom filter): false proves `v` absent from `a`. */
  def keep(stats: Option[FileStats], filters: Seq[Expression],
           dataSchema: StructType,
           mayContain: (AttributeReference, Any) => Boolean = (_, _) => true): Boolean =
    filters.forall(f => mayMatch(f, stats.getOrElse(Unknown), dataSchema, mayContain))

  private def mayMatch(e: Expression, st: FileStats, sch: StructType,
                       mayContain: (AttributeReference, Any) => Boolean): Boolean = {
    def inRange(a: AttributeReference, v: Any): Boolean =
      v != null && // null-rejecting comparison: no row matches
        cmpMin(a, v, st, sch) <= 0 && cmpMax(a, v, st, sch) >= 0 && mayContain(a, v)
    def go(e: Expression): Boolean = e match {
      case And(l, r) => go(l) && go(r)
      case Or(l, r) => go(l) || go(r)
      case EqualTo(a: AttributeReference, Literal(v, _)) => inRange(a, v)
      case EqualTo(Literal(v, _), a: AttributeReference) => inRange(a, v)
      case EqualNullSafe(a: AttributeReference, Literal(v, _)) =>
        if (v == null) mayHaveNull(a, st) else inRange(a, v)
      case EqualNullSafe(Literal(v, _), a: AttributeReference) =>
        if (v == null) mayHaveNull(a, st) else inRange(a, v)
      case LessThan(a: AttributeReference, Literal(v, _)) => cmpMin(a, v, st, sch) < 0
      case LessThan(Literal(v, _), a: AttributeReference) => cmpMax(a, v, st, sch) > 0
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => cmpMin(a, v, st, sch) <= 0
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) => cmpMax(a, v, st, sch) >= 0
      case GreaterThan(a: AttributeReference, Literal(v, _)) => cmpMax(a, v, st, sch) > 0
      case GreaterThan(Literal(v, _), a: AttributeReference) => cmpMin(a, v, st, sch) < 0
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => cmpMax(a, v, st, sch) >= 0
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => cmpMin(a, v, st, sch) <= 0
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => inRange(a, v) }
      case InSet(a: AttributeReference, vs) => vs.exists(v => inRange(a, v))
      case IsNull(a: AttributeReference) => mayHaveNull(a, st)
      case IsNotNull(a: AttributeReference) => !allNull(a, st)
      case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType)) =>
        prefixInRange(a, p, st, sch)
      case _ => true // unknown shape — never prune on it
    }
    go(e)
  }

  /** -1/0/+1 comparing the file's MIN for `a` against literal `v`; returns
    * Int.MinValue ("min is -inf") when the stat is missing/unsupported so
    * `min < v`-style checks conservatively keep. */
  private def cmpMin(a: AttributeReference, v: Any, st: FileStats,
                     sch: StructType): Int =
    statValue(a, st.min, sch).flatMap(m => compare(m, v, typeOf(a, sch)))
      .getOrElse(Int.MinValue)

  /** symmetric: missing stat acts as "+inf" so `max > v` keeps. */
  private def cmpMax(a: AttributeReference, v: Any, st: FileStats,
                     sch: StructType): Int =
    statValue(a, st.max, sch).flatMap(m => compare(m, v, typeOf(a, sch)))
      .getOrElse(Int.MaxValue)

  private def mayHaveNull(a: AttributeReference, st: FileStats): Boolean =
    st.nullCount.get(a.name).forall(_ > 0)

  private def allNull(a: AttributeReference, st: FileStats): Boolean =
    st.nullCount.get(a.name).exists(_ == st.numRecords)

  /** may a string in [min, max] start with prefix `p`? Compare the bounds
    * truncated to |p| — sound in binary order. */
  private def prefixInRange(a: AttributeReference, p: UTF8String, st: FileStats,
                            sch: StructType): Boolean = {
    def trunc(n: JsonNode): UTF8String = {
      val s = UTF8String.fromString(n.asText)
      if (s.numChars > p.numChars) s.substring(0, p.numChars) else s
    }
    if (typeOf(a, sch) != StringType) return true
    val lo = statValue(a, st.min, sch).map(n => trunc(n).compareTo(p) <= 0)
    val hi = statValue(a, st.max, sch).map(n => trunc(n).compareTo(p) >= 0)
    lo.getOrElse(true) && hi.getOrElse(true)
  }

  private def typeOf(a: AttributeReference, sch: StructType): DataType =
    sch.fields.find(_.name == a.name).map(_.dataType).getOrElse(NullType)

  private def statValue(a: AttributeReference, m: Map[String, JsonNode],
                        sch: StructType): Option[JsonNode] =
    m.get(a.name).filterNot(_.isNull)

  /** compare a stats JsonNode against a Catalyst literal value under the
    * column's type; None ⇒ can't compare (keep). */
  private def compare(stat: JsonNode, v: Any, dt: DataType): Option[Int] =
    (dt, v) match {
      case (_, null) => None
      case (ByteType | ShortType | IntegerType | LongType, n: Number)
          if stat.isIntegralNumber =>
        Some(java.lang.Long.compare(stat.asLong, n.longValue))
      case (FloatType | DoubleType, n: Number) if stat.isNumber =>
        // SQL comparison semantics: -0.0 = 0.0 (Double.compare's total
        // order says -0.0 < 0.0, which would wrongly skip a file with
        // min=max=0.0 for a pushed `x = -0.0`). Normalize both sides.
        def norm(d: Double): Double = if (d == 0.0d) 0.0d else d
        Some(java.lang.Double.compare(norm(stat.asDouble), norm(n.doubleValue)))
      case (StringType, u: UTF8String) if stat.isTextual =>
        Some(Integer.signum(UTF8String.fromString(stat.asText).compareTo(u)))
      case (BooleanType, b: java.lang.Boolean) if stat.isBoolean =>
        Some(java.lang.Boolean.compare(stat.asBoolean, b))
      case (DateType, d: Integer) if stat.isTextual =>
        // Delta serializes date stats as ISO yyyy-MM-dd; Catalyst dates
        // are epoch days
        scala.util.Try(java.time.LocalDate.parse(stat.asText).toEpochDay.toInt)
          .toOption.map(Integer.compare(_, d))
      // exact encodings only: an integral or big-decimal JSON number for
      // decimals (a JSON double may have rounded the bound), integral
      // epoch micros for timestamps (textual stats of other writers keep)
      case (_: DecimalType, d: Decimal) if stat.isIntegralNumber || stat.isBigDecimal =>
        Some(stat.decimalValue.compareTo(d.toJavaBigDecimal))
      case (TimestampType | TimestampNTZType, t: java.lang.Long) if stat.canConvertToLong =>
        Some(java.lang.Long.compare(stat.asLong, t))
      case _ => None // binary/nested, inexact or textual encodings: keep
    }
}
