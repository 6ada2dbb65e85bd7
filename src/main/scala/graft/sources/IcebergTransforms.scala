package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, datediff, lit, to_date, udf, unix_micros}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg partition transforms (Table Spec §Partition Transforms) —
  * the full family, shared by BOTH sides of the interop:
  *
  *  - **write layout** ([[IcebergWrite.stageDataFiles]]): each spec
  *    field becomes a shadow column `__part_<field>` holding the
  *    TRANSFORMED value, so one distributed `partitionBy` stage lays
  *    files out per transformed tuple while the data files keep the
  *    source columns (the spec's contract);
  *  - **read pruning** ([[LogFileIndex.listFiles]]): pushed data
  *    predicates over the SOURCE columns are evaluated against each
  *    file's transformed partition tuple — equality/IN prune through
  *    every transform (bucket included), ranges prune through the
  *    order-preserving ones (truncate, year/month/day/hour).
  *
  * Both sides call the same JVM evaluation ([[Transform.eval]]), so the
  * value a file was routed by is byte-identical to the value pruning
  * compares against — the property that makes transform pruning sound.
  *
  * `bucket[N]` hashes the spec's single-value binary serialization with
  * the STANDARD 32-bit murmur3 (seed 0) — int/long/date/timestamp as an
  * 8-byte little-endian long, strings as UTF-8 bytes (Appendix B test
  * vectors pinned in IcebergTransformsSpec). This is NOT Spark's
  * seed-42 partitioner hash; conflating them would route rows to
  * buckets a conformant engine never probes.
  *
  * Pruning soundness rules mirror [[StatsSkip]]: any shape/type this
  * module can't reason about keeps the file (pruning is economy, never
  * correctness); a file whose tuple value is NULL has an all-null
  * source column, so null-rejecting comparisons may skip it and IsNull
  * must keep it. Monotone range rule: for an order-preserving t,
  * `v ≥ L ⇒ t(v) ≥ t(L)`, so a file with tuple T satisfies a pushed
  * `v ≥ L` only if `T ≥ t(L)` (strict inequalities use the same bound —
  * conservative, still exact at transform granularity). */
object IcebergTransforms {

  /** One partition-spec field: manifest tuple key `name`, source column,
    * transform. */
  final case class PartField(name: String, sourceCol: String, transform: Transform)

  sealed trait Transform {
    /** The spec's transform string (`partition-specs[].fields[].transform`). */
    def specName: String
    /** Order-preserving in the source value (enables range pruning). */
    def monotonic: Boolean
    /** Transformed value of a canonicalized source value (Long for
      * int/long/date-days/timestamp-micros, String for strings); None if
      * this transform can't evaluate that source kind (prune keeps). */
    def eval(v: Any, src: SourceKind): Option[Any]
  }
  case object Identity extends Transform {
    val specName = "identity"; val monotonic = true
    def eval(v: Any, src: SourceKind): Option[Any] = Some(v)
  }
  final case class Bucket(n: Int) extends Transform {
    val specName = s"bucket[$n]"; val monotonic = false
    def eval(v: Any, src: SourceKind): Option[Any] = (v, src) match {
      case (l: Long, PlainLong | EpochDays | EpochMicros) =>
        Some((hashLong(l) & Int.MaxValue).toLong % n)
      case (s: String, Str) =>
        Some((hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          & Int.MaxValue).toLong % n)
      case _ => None
    }
  }
  final case class Truncate(w: Int) extends Transform {
    val specName = s"truncate[$w]"; val monotonic = true
    def eval(v: Any, src: SourceKind): Option[Any] = (v, src) match {
      case (l: Long, PlainLong) => Some(Math.floorDiv(l, w.toLong) * w)
      case (s: String, Str) =>
        Some(if (s.codePointCount(0, s.length) <= w) s
             else s.substring(0, s.offsetByCodePoints(0, w)))
      case _ => None
    }
  }
  case object Year extends Transform {
    val specName = "year"; val monotonic = true
    def eval(v: Any, src: SourceKind): Option[Any] = epochDays(v, src)
      .map(d => (java.time.LocalDate.ofEpochDay(d).getYear - 1970).toLong)
  }
  case object Month extends Transform {
    val specName = "month"; val monotonic = true
    def eval(v: Any, src: SourceKind): Option[Any] = epochDays(v, src).map { d =>
      val ld = java.time.LocalDate.ofEpochDay(d)
      ((ld.getYear - 1970) * 12 + ld.getMonthValue - 1).toLong
    }
  }
  case object Day extends Transform {
    val specName = "day"; val monotonic = true
    def eval(v: Any, src: SourceKind): Option[Any] = epochDays(v, src)
  }
  case object Hour extends Transform {
    val specName = "hour"; val monotonic = true
    def eval(v: Any, src: SourceKind): Option[Any] = (v, src) match {
      case (micros: Long, EpochMicros) =>
        Some(Math.floorDiv(micros, 3_600_000_000L))
      case _ => None
    }
  }
  case object Void extends Transform {
    val specName = "void"; val monotonic = false
    def eval(v: Any, src: SourceKind): Option[Any] = None
  }
  /** A transform this reader doesn't know — the tuple stays metadata
    * only (no pruning, never wrong). */
  final case class Opaque(specName: String) extends Transform {
    val monotonic = false
    def eval(v: Any, src: SourceKind): Option[Any] = None
  }

  /** What a canonicalized Long source value MEANS (the temporal
    * transforms need the unit; bucket/truncate don't). */
  sealed trait SourceKind
  case object PlainLong extends SourceKind
  case object EpochDays extends SourceKind
  case object EpochMicros extends SourceKind
  case object Str extends SourceKind

  def sourceKind(dt: DataType): Option[SourceKind] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(PlainLong)
    case DateType => Some(EpochDays)
    // NTZ is the spec's zone-less "timestamp": its canonical micros are
    // the LOCAL wall time anchored at UTC — exactly Catalyst's internal
    // NTZ representation, so literals and shadow columns agree
    case TimestampType | TimestampNTZType => Some(EpochMicros)
    case StringType => Some(Str)
    case _ => None
  }

  private def epochDays(v: Any, src: SourceKind): Option[Long] = (v, src) match {
    case (d: Long, EpochDays) => Some(d)
    case (micros: Long, EpochMicros) => Some(Math.floorDiv(micros, 86_400_000_000L))
    case _ => None
  }

  /** Parse a metadata `transform` string. Unknown names degrade to
    * [[Opaque]] — a reader must stay correct on specs newer than it. */
  def parseSpec(s: String): Transform = s.trim match {
    case "identity" => Identity
    case "void" => Void
    case "year" | "years" => Year
    case "month" | "months" => Month
    case "day" | "days" | "date" => Day
    case "hour" | "hours" | "date_hour" => Hour
    case b if b.startsWith("bucket[") && b.endsWith("]") =>
      Bucket(b.stripPrefix("bucket[").stripSuffix("]").trim.toInt)
    case t if t.startsWith("truncate[") && t.endsWith("]") =>
      Truncate(t.stripPrefix("truncate[").stripSuffix("]").trim.toInt)
    case other => Opaque(other)
  }

  /** Parse a WRITE-API partition term — either a bare column name
    * (identity) or the SQL-ish call syntax Iceberg users write:
    * `bucket(8, key)`, `truncate(4, s)`, `days(ts)` / `day(ts)`,
    * `years(ts)`, `months(ts)`, `hours(ts)`. Field names follow
    * Iceberg's conventions (`<col>_bucket`, `<col>_trunc`,
    * `<col>_day`, …). */
  def parseField(term: String): PartField = {
    val t = term.trim
    val call = """^(\w+)\s*\((.*)\)$""".r
    t match {
      case call(fn, args0) =>
        val args = args0.split(",").map(_.trim).toSeq
        fn.toLowerCase match {
          case "bucket" =>
            require(args.size == 2, s"bucket(N, col) expected, got '$t'")
            PartField(s"${args(1)}_bucket", args(1), Bucket(args(0).toInt))
          case "truncate" =>
            require(args.size == 2, s"truncate(W, col) expected, got '$t'")
            PartField(s"${args(1)}_trunc", args(1), Truncate(args(0).toInt))
          case "year" | "years" =>
            require(args.size == 1, s"years(col) expected, got '$t'")
            PartField(s"${args.head}_year", args.head, Year)
          case "month" | "months" =>
            require(args.size == 1, s"months(col) expected, got '$t'")
            PartField(s"${args.head}_month", args.head, Month)
          case "day" | "days" =>
            require(args.size == 1, s"days(col) expected, got '$t'")
            PartField(s"${args.head}_day", args.head, Day)
          case "hour" | "hours" =>
            require(args.size == 1, s"hours(col) expected, got '$t'")
            PartField(s"${args.head}_hour", args.head, Hour)
          case other =>
            throw new IllegalArgumentException(
              s"unknown partition transform function '$other' in '$t'")
        }
      case bare => PartField(bare, bare, Identity)
    }
  }

  // ---- bucket hashing (spec Appendix B) ------------------------------

  /** Standard 32-bit murmur3 (x86 variant), seed 0 — Iceberg's bucket
    * hash. Implemented from the published algorithm; Appendix B vectors
    * pinned in the spec suite. */
  def hashBytes(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h1 = 0
    val nblocks = data.length / 4
    var i = 0
    while (i < nblocks) {
      var k1 = (data(4 * i) & 0xff) | ((data(4 * i + 1) & 0xff) << 8) |
        ((data(4 * i + 2) & 0xff) << 16) | ((data(4 * i + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    val rem = data.length & 3
    if (rem >= 3) k1 ^= (data(tail + 2) & 0xff) << 16
    if (rem >= 2) k1 ^= (data(tail + 1) & 0xff) << 8
    if (rem >= 1) {
      k1 ^= data(tail) & 0xff
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
    }
    h1 ^= data.length
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13; h1 *= 0xc2b2ae35
    h1 ^= h1 >>> 16
    h1
  }

  /** Spec: int, long, date, time, timestamp(tz) all hash as the 8-byte
    * LITTLE-ENDIAN serialization of the value widened to long (which is
    * why `bucket(34: int) == bucket(34L)`). */
  def hashLong(v: Long): Int = {
    val b = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    hashBytes(b)
  }

  // ---- write-side shadow columns --------------------------------------

  /** The staged shadow column for one spec field: the source column
    * canonicalized by native exprs (`unix_micros`, `datediff` — exact
    * long arithmetic, no session-timezone dependence) and transformed by
    * the SAME [[Transform.eval]] the pruner uses. The UDF is one
    * projection on the write path — consistency between layout, manifest
    * tuple, and prune arithmetic is worth more here than codegen. */
  def shadowColumn(f: PartField, schema: StructType): Column = {
    val dt = schema(f.sourceCol).dataType
    val src = col(f.sourceCol)
    f.transform match {
      case Identity => src
      case Void | Opaque(_) => throw new IllegalArgumentException(
        s"cannot WRITE through transform ${f.transform.specName} on ${f.sourceCol}")
      case t =>
        val kind = sourceKind(dt).getOrElse(throw new IllegalArgumentException(
          s"partition transform ${t.specName} over $dt (${f.sourceCol}) " +
            "is not supported by this writer"))
        kind match {
          case Str =>
            t match {
              case Truncate(_) =>
                udf((s: String) => if (s == null) null
                  else t.eval(s, Str).get.asInstanceOf[String]).apply(src)
              case _ =>
                udf((s: String) => if (s == null) null
                  else java.lang.Long.valueOf(t.eval(s, Str).get
                    .asInstanceOf[Long])).apply(src)
            }
          case longKind =>
            val canon: Column = dt match {
              case DateType => datediff(src, to_date(lit("1970-01-01"))).cast(LongType)
              case TimestampType => unix_micros(src)
              case TimestampNTZType =>
                // session-TZ-independent: the LocalDateTime surface IS
                // the wall time; anchor at UTC to get Catalyst's micros
                udf((ldt: java.time.LocalDateTime) =>
                  if (ldt == null) null
                  else java.lang.Long.valueOf(
                    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                      ldt.getNano / 1000L)).apply(src)
              case _ => src.cast(LongType)
            }
            udf((v: java.lang.Long) => if (v == null) null
              else t.eval(v.longValue, longKind) match {
                case Some(l: Long) => java.lang.Long.valueOf(l)
                case other => throw new IllegalArgumentException(
                  s"${t.specName} cannot evaluate $longKind value $v: $other")
              }).apply(canon)
        }
    }
  }

  /** Avro type of the transformed partition-tuple field in the manifest
    * (`"int"`, `"long"`, or `"string"`). */
  def avroResultType(f: PartField, schema: StructType): String = f.transform match {
    case Identity => schema(f.sourceCol).dataType match {
      case LongType => "long"
      case IntegerType => "int"
      case _ => "string"
    }
    case Bucket(_) | Year | Month | Day | Hour => "int"
    case Truncate(_) => schema(f.sourceCol).dataType match {
      case LongType | IntegerType | ByteType | ShortType => "long"
      case _ => "string"
    }
    case Void | Opaque(_) => "string"
  }

  // ---- read-side pruning ----------------------------------------------

  /** true ⇔ the file with transformed tuple `pv` may contain a row
    * satisfying every pushed conjunct. Identity fields are excluded —
    * the [[LogFileIndex]] tuple evaluates full predicates on them; this channel
    * covers the non-identity transforms. */
  def keepFile(fields: Seq[PartField], schema: StructType,
               pv: Map[String, String], filters: Seq[Expression]): Boolean = {
    val active = fields.filter(f => f.transform != Identity &&
      schema.fieldNames.contains(f.sourceCol))
    if (active.isEmpty) return true
    filters.forall(e => mayMatch(e, active, schema, pv))
  }

  private def mayMatch(e: Expression, fields: Seq[PartField],
                       schema: StructType, pv: Map[String, String]): Boolean =
    e match {
      case And(l, r) => mayMatch(l, fields, schema, pv) &&
        mayMatch(r, fields, schema, pv)
      case Or(l, r) => mayMatch(l, fields, schema, pv) ||
        mayMatch(r, fields, schema, pv)
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        eqKeep(a, v, dt, fields, schema, pv)
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        eqKeep(a, v, dt, fields, schema, pv)
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
        if (v == null) nullKeep(a, fields, pv, wantNull = true)
        else eqKeep(a, v, dt, fields, schema, pv)
      case EqualNullSafe(Literal(v, dt), a: AttributeReference) =>
        if (v == null) nullKeep(a, fields, pv, wantNull = true)
        else eqKeep(a, v, dt, fields, schema, pv)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, dt) => eqKeep(a, v, dt, fields, schema, pv) }
      case InSet(a: AttributeReference, vs) =>
        vs.exists(v => eqKeep(a, v, a.dataType, fields, schema, pv))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        rangeKeep(a, v, dt, lower = true, fields, schema, pv)
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        rangeKeep(a, v, dt, lower = true, fields, schema, pv)
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        rangeKeep(a, v, dt, lower = false, fields, schema, pv)
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        rangeKeep(a, v, dt, lower = false, fields, schema, pv)
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        rangeKeep(a, v, dt, lower = false, fields, schema, pv)
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        rangeKeep(a, v, dt, lower = false, fields, schema, pv)
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        rangeKeep(a, v, dt, lower = true, fields, schema, pv)
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        rangeKeep(a, v, dt, lower = true, fields, schema, pv)
      case IsNull(a: AttributeReference) =>
        nullKeep(a, fields, pv, wantNull = true)
      case IsNotNull(a: AttributeReference) =>
        nullKeep(a, fields, pv, wantNull = false)
      case _ => true // unknown shape — never prune on it
    }

  /** Catalyst literal → the canonical JVM value [[Transform.eval]]
    * takes, with the matching [[SourceKind]]. */
  private def canon(v: Any, dt: DataType): Option[(Any, SourceKind)] =
    (v, dt) match {
      case (null, _) => None
      case (n: Number, ByteType | ShortType | IntegerType | LongType) =>
        Some((n.longValue, PlainLong))
      case (d: Integer, DateType) => Some((d.longValue, EpochDays))
      case (micros: java.lang.Long, TimestampType | TimestampNTZType) =>
        Some((micros.longValue, EpochMicros))
      case (u: UTF8String, StringType) => Some((u.toString, Str))
      case _ => None
    }

  /** The file's transformed tuple value for field `f`: Some(Some(v)) =
    * a value, Some(None) = explicit NULL tuple (all-null source),
    * None = tuple field absent (unknown — keep). */
  private def tupleVal(f: PartField, schema: StructType,
                       pv: Map[String, String]): Option[Option[Any]] =
    pv.get(f.name).map {
      case null => None
      case raw => f.transform match {
        case Truncate(_) if schema(f.sourceCol).dataType == StringType =>
          Some(raw)
        case _ => scala.util.Try(raw.toLong).toOption
      }
    }

  private def fieldsOf(a: AttributeReference, fields: Seq[PartField]) =
    fields.filter(_.sourceCol == a.name)

  private def eqKeep(a: AttributeReference, v: Any, dt: DataType,
                     fields: Seq[PartField], schema: StructType,
                     pv: Map[String, String]): Boolean =
    fieldsOf(a, fields).forall { f =>
      (tupleVal(f, schema, pv), canon(v, dt).flatMap { case (cv, k) =>
        f.transform.eval(cv, k)
      }) match {
        case (Some(None), _) => v == null // all-null source: x = lit never matches
        case (Some(Some(t)), Some(expect)) => sameValue(t, expect)
        case _ => true
      }
    }

  private def rangeKeep(a: AttributeReference, v: Any, dt: DataType,
                        lower: Boolean, fields: Seq[PartField],
                        schema: StructType, pv: Map[String, String]): Boolean =
    fieldsOf(a, fields).forall { f =>
      if (!f.transform.monotonic) true
      else (tupleVal(f, schema, pv), canon(v, dt).flatMap { case (cv, k) =>
        f.transform.eval(cv, k)
      }) match {
        case (Some(None), _) => false // all-null source: comparisons never match
        case (Some(Some(t)), Some(bound)) =>
          cmp(t, bound).forall(c => if (lower) c >= 0 else c <= 0)
        case _ => true
      }
    }

  private def nullKeep(a: AttributeReference, fields: Seq[PartField],
                       pv: Map[String, String], wantNull: Boolean): Boolean =
    fieldsOf(a, fields).forall { f =>
      pv.get(f.name) match {
        case Some(null) => wantNull // all-null source column
        case Some(_) => !wantNull // tuple value present ⇒ no null source rows
        case None => true
      }
    }

  private def sameValue(t: Any, e: Any): Boolean = (t, e) match {
    case (a: Long, b: Long) => a == b
    case (a: String, b: String) => a == b
    case _ => true
  }

  /** Compare in the transform's result order: longs numerically, strings
    * in UTF-8 binary order (truncation preserves it). */
  private def cmp(t: Any, e: Any): Option[Int] = (t, e) match {
    case (a: Long, b: Long) => Some(java.lang.Long.compare(a, b))
    case (a: String, b: String) =>
      Some(Integer.signum(UTF8String.fromString(a)
        .compareTo(UTF8String.fromString(b))))
    case _ => None
  }
}
