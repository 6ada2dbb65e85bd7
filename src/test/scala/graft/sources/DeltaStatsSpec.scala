package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Contract of `add.stats` file skipping: DeltaWrite extracts footer
  * stats, DeltaRead parses them back, its LogFileIndex prunes files whose
  * [min, max] / nullCount provably exclude the pushed data predicates —
  * and everything stays conservative when stats are absent. */
class DeltaStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("graft_delta_stats").resolve("t").toString

  /** 4 files with EXACT disjoint id ranges [0,250), [250,500), … — one
    * single-partition append COMMIT per file (repartitionByRange samples
    * its boundaries and a union's partitioning is planner-dependent;
    * separate commits pin the per-file ranges deterministically). */
  private def rangeTable(): (String, DeltaRead.Snapshot) = {
    val t = tbl()
    Seq(0L, 250L, 500L, 750L).foreach { s0 =>
      DeltaWrite.write(spark.range(s0, s0 + 250, 1, 1)
        .select($"id", concat(lit("name_"), format_string("%04d", $"id")).as("nm"),
          when($"id" % 4 === 0, $"id".cast("double")).as("val")), t)
    }
    (t, DeltaRead.snapshot(t))
  }

  private def attr(name: String, dt: DataType) =
    AttributeReference(name, dt, nullable = true)()

  private def listedFiles(spark0: org.apache.spark.sql.SparkSession,
                          t: String, snap: DeltaRead.Snapshot,
                          dataFilters: Seq[Expression]): Int =
    DeltaRead.fileIndex(spark0, t, snap)
      .listFiles(Nil, dataFilters).map(_.files.size).sum

  test("writer emits footer stats; reader parses them back") {
    val (_, snap) = rangeTable()
    assert(snap.files.size == 4)
    assert(snap.files.forall(_.stats.nonEmpty), "every add must carry stats")
    val st = snap.files.map(_.stats.get).minBy(_.min("id").asLong)
    assert(st.numRecords == 250L)
    assert(st.min("id").asLong == 0L && st.max("id").asLong == 249L)
    assert(st.min("nm").asText == "name_0000")
    assert(st.nullCount("nm") == 0L)
    // 'val' is null for 3 of 4 ids
    assert(st.nullCount("val") > 0L)
  }

  test("signed zero: x = -0.0 keeps a file whose bounds are [0.0, 0.0]") {
    // SQL semantics: -0.0 = 0.0. Double.compare's total order would call
    // -0.0 < min and wrongly skip the file, silently dropping rows.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val zero = mapper.readTree("0.0")
    val st = StatsSkip.FileStats(10L,
      Map("x" -> zero), Map("x" -> zero), Map("x" -> 0L))
    val sch = StructType(Seq(StructField("x", DoubleType)))
    val a = attr("x", DoubleType)
    def kept(e: Expression) = StatsSkip.keep(Some(st), Seq(e), sch)
    assert(kept(EqualTo(a, Literal(-0.0d, DoubleType))))
    assert(kept(LessThanOrEqual(a, Literal(-0.0d, DoubleType))))
    assert(kept(GreaterThanOrEqual(a, Literal(-0.0d, DoubleType))))
    // and the converse: bounds [-0.0, -0.0] keep x = 0.0
    val nzero = mapper.readTree("-0.0")
    val st2 = st.copy(min = Map("x" -> nzero), max = Map("x" -> nzero))
    assert(StatsSkip.keep(Some(st2),
      Seq(EqualTo(a, Literal(0.0d, DoubleType))), sch))
    // strictly-outside values still skip
    assert(!kept(EqualTo(a, Literal(1.0d, DoubleType))))
  }

  test("decimal and timestamp stats prune only on exact encodings") {
    val plain = new com.fasterxml.jackson.databind.ObjectMapper()
    val exact = new com.fasterxml.jackson.databind.ObjectMapper().enable(
      com.fasterxml.jackson.databind.DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    def keeps(dt: DataType, lo: String, hi: String,
              mapper: com.fasterxml.jackson.databind.ObjectMapper)
             (e: AttributeReference => Expression): Boolean = {
      val st = StatsSkip.FileStats(10L, Map("x" -> mapper.readTree(lo)),
        Map("x" -> mapper.readTree(hi)), Map("x" -> 0L))
      StatsSkip.keep(Some(st), Seq(e(attr("x", dt))), StructType(Seq(StructField("x", dt))))
    }
    val dec = DecimalType(10, 2)
    def d(v: String) = Literal(Decimal(BigDecimal(v)), dec)
    // mixed-sign bounds as exact big-decimal JSON numbers
    val exactDec = keeps(dec, "-5.25", "3.10", exact) _
    assert(!exactDec(EqualTo(_, d("-5.30"))))
    assert(exactDec(EqualTo(_, d("-5.25"))))
    assert(exactDec(EqualTo(_, d("0.00"))))
    assert(!exactDec(GreaterThan(_, d("3.10"))))
    assert(!exactDec(LessThan(_, d("-5.25"))))
    // integral JSON numbers are exact too
    assert(!keeps(dec, "-5", "3", plain)(EqualTo(_, d("4.00"))))
    // a JSON double may have rounded the bound: never prune on it
    assert(keeps(dec, "-5.25", "3.1", plain)(EqualTo(_, d("100.00"))))

    def micros(ts: String): Long = {
      val i = java.time.Instant.parse(ts)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val (y2024, y10000) = (micros("2024-01-01T00:00:00Z"), micros("+10000-01-01T00:00:00Z"))
    Seq(TimestampType, TimestampNTZType).foreach { tt =>
      val ts = keeps(tt, y2024.toString, y10000.toString, plain) _
      assert(ts(EqualTo(_, Literal(y10000, tt))), tt)
      assert(ts(GreaterThan(_, Literal(y10000 - 1, tt))), tt)
      assert(!ts(GreaterThan(_, Literal(y10000, tt))), tt)
      assert(!ts(LessThan(_, Literal(y2024, tt))), tt)
      assert(!ts(EqualTo(_, Literal(y2024 - 1, tt))), tt)
    }
    // textual timestamp stats, as Delta writers emit them: never prune
    assert(keeps(TimestampType, "\"2024-01-01T00:00:00.000Z\"",
      "\"2024-01-02T00:00:00.000Z\"", plain)(EqualTo(_, Literal(y10000, TimestampType))))

    // this writer's add.stats stay as they were: no decimal or timestamp
    val t = tbl()
    DeltaWrite.write(spark.range(0, 5, 1, 1).select($"id",
      $"id".cast("decimal(10,2)").as("dec"), current_timestamp().as("ts")), t)
    val st = DeltaRead.snapshot(t).files.head.stats.get
    assert(st.min.keySet === Set("id") && st.nullCount.keySet === Set("id"))
  }

  test("range predicate schedules only overlapping files") {
    val (t, snap) = rangeTable()
    assert(listedFiles(spark, t, snap,
      Seq(LessThan(attr("id", LongType), Literal(100L)))) == 1)
    assert(listedFiles(spark, t, snap,
      Seq(GreaterThanOrEqual(attr("id", LongType), Literal(750L)))) == 1)
    assert(listedFiles(spark, t, snap,
      Seq(EqualTo(attr("id", LongType), Literal(500L)))) == 1)
    assert(listedFiles(spark, t, snap,
      Seq(In(attr("id", LongType), Seq(Literal(10L), Literal(990L))))) == 2)
    // string bounds skip too (binary order)
    assert(listedFiles(spark, t, snap,
      Seq(GreaterThan(attr("nm", StringType),
        Literal(UTF8String.fromString("name_0800"), StringType)))) == 1)
    assert(listedFiles(spark, t, snap,
      Seq(StartsWith(attr("nm", StringType),
        Literal(UTF8String.fromString("name_03"), StringType)))) == 1,
      "name_03xx lives only in the [250,500) file")
    // no predicate → everything
    assert(listedFiles(spark, t, snap, Nil) == 4)
  }

  test("end-to-end: the executed scan touches only stats-surviving files") {
    val (t, _) = rangeTable()
    val df = DeltaRead.read(spark, t).filter($"id" < 100)
    assert(df.count() == 100)
    assert(df.select(input_file_name()).distinct().count() == 1L,
      "3 of 4 files must be skipped before scheduling")
  }

  test("conservative: a file without stats is always scheduled") {
    val (t, snap) = rangeTable()
    val stripped = snap.copy(files = snap.files.map(_.copy(stats = None)))
    assert(listedFiles(spark, t, stripped,
      Seq(LessThan(attr("id", LongType), Literal(-5L)))) == 4)
  }

  test("null-aware: IsNotNull skips an all-null file; IsNull skips a no-null file") {
    val t = tbl()
    DeltaWrite.write(
      spark.range(0, 10, 1, 1).select($"id", lit(null).cast("string").as("tag")), t)
    DeltaWrite.write(
      spark.range(10, 20, 1, 1).select($"id", lit("x").as("tag")), t)
    val snap = DeltaRead.snapshot(t)
    assert(snap.files.size == 2)
    assert(listedFiles(spark, t, snap, Seq(IsNotNull(attr("tag", StringType)))) == 1)
    assert(listedFiles(spark, t, snap, Seq(IsNull(attr("tag", StringType)))) == 1)
  }

  test("stats survive checkpoint compaction") {
    val (t, _) = rangeTable()
    DeltaWrite.checkpoint(spark, t)
    // wipe the json commits so the snapshot can ONLY come from the checkpoint
    val logDir = java.nio.file.Paths.get(t, "_delta_log")
    java.nio.file.Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(java.nio.file.Files.delete)
    val snap = DeltaRead.snapshot(t)
    assert(snap.files.forall(_.stats.nonEmpty))
    assert(listedFiles(spark, t, snap,
      Seq(LessThan(attr("id", LongType), Literal(100L)))) == 1)
  }

  test("date stats round-trip as ISO text") {
    val t = tbl()
    Seq(0L, 50L).foreach { s0 =>
      DeltaWrite.write(spark.range(s0, s0 + 50, 1, 1)
        .select($"id", date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          $"id".cast("int")).as("d")), t)
    }
    val snap = DeltaRead.snapshot(t)
    val days0 = java.time.LocalDate.parse("2024-03-01").toEpochDay.toInt
    assert(listedFiles(spark, t, snap,
      Seq(GreaterThanOrEqual(attr("d", DateType), Literal(days0, DateType)))) == 1)
  }

  private implicit class JIter[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = scala.jdk.CollectionConverters.IteratorHasAsScala(it).asScala
  }
}
