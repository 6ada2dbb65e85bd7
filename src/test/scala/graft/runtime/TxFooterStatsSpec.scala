package graft.runtime

import java.nio.file.Files

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

import graft.SparkSpec
import graft.sources.LogScan
import graft.sources.StatsSkip.FileStats

/** batchStats reads per-file stats from parquet FOOTERS (driver-side
  * metadata, the shared typed reader) instead of a full read-back Spark
  * job per commit. These specs pin the footer path to a typed scan of the
  * same files: same min/max values, same no-entry cases (all-NULL, absent
  * column), and a working scan fallback for INT96 timestamps. */
class TxFooterStatsSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_footer_stats").toString

  /** the manifest paths of the files the planned scan of `df` (a read of
    * `name`) keeps */
  private def kept(t: TxLogTable, name: String, df: DataFrame): Seq[String] =
    LogScan.keptFiles(df).map(t.root(name).relativize(_).toString)

  /** the reference computation: per-file min/max via a typed scan, in the
    * stats value domain (integrals as Long, other numbers by value, dates
    * ISO, timestamps epoch micros) */
  private def scanReference(t: TxLogTable, name: String,
                            cols: Seq[String]): Map[(String, String), (Any, Any)] = {
    val v = t.currentVersion(name).get
    val fs = t.files(name, v)
    val base = java.nio.file.Paths.get(t.baseDir, name)
    val df = spark.read.option("mergeSchema", "true")
      .parquet(fs.map(f => base.resolve(f).toString): _*)
    val present = df.columns.toSet
    val use = cols.filter(present)
    def typedAgg(c: String, agg: Column => Column): Column = df.schema(c).dataType match {
      case TimestampType => unix_micros(agg(col(c)))
      case DateType      => unix_date(agg(col(c)))
      case _             => agg(col(c))
    }
    def norm(c: String, x: Any): Any = (df.schema(c).dataType, x) match {
      case (DateType, d: Int) => java.time.LocalDate.ofEpochDay(d.toLong).toString
      case (_, n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long)) =>
        n.asInstanceOf[Number].longValue
      case (_, d: Double) => BigDecimal(d)
      case (_, d: java.math.BigDecimal) => BigDecimal(d)
      case (_, other) => other
    }
    val aggs = use.flatMap(c => Seq(
      typedAgg(c, min).as(s"__mn_$c"), typedAgg(c, max).as(s"__mx_$c")))
    df.groupBy(input_file_name().as("__f")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.flatMap { r =>
        val abs = r.getAs[String]("__f")
        fs.find(f => abs.endsWith("/" + f)).toSeq.flatMap { rel =>
          use.flatMap { c =>
            (Option(r.getAs[Any](s"__mn_$c")), Option(r.getAs[Any](s"__mx_$c"))) match {
              case (Some(mn), Some(mx)) => Some((rel, c) -> (norm(c, mn), norm(c, mx)))
              case _                    => None
            }
          }
        }
      }.toMap
  }

  /** a stored stat in the reference's value domain */
  private def typed(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) BigDecimal(n.decimalValue)
    else if (n.isBoolean) n.asBoolean
    else n.asText

  /** fileStats as (file, column) → (min, max) */
  private def minMax(st: Map[String, FileStats]): Map[(String, String), (Any, Any)] =
    st.toSeq.flatMap { case (f, s) =>
      s.min.keys.filter(s.max.contains).map(c => (f, c) -> (typed(s.min(c)), typed(s.max(c))))
    }.toMap

  private def micros(ts: String): Long = {
    val i = java.time.Instant.parse(ts)
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def withTimestampType[A](v: String)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try body finally spark.conf.set(key, prev)
  }

  test("footer stats equal the scan stats across types") {
    import spark.implicits._
    val t = new TxLogTable(spark, tmp())
    val df: DataFrame = Seq(
      (5L, "alpha", 1.5, java.sql.Date.valueOf("2024-02-01"), BigDecimal("12.30"), true),
      (9L, "omega", -2.25, java.sql.Date.valueOf("2023-12-31"), BigDecimal("7.05"), false))
      .toDF("id", "s", "d", "dt", "dec", "b")
      .withColumn("dec", col("dec").cast("decimal(10,2)"))
    t.append("tbl", df.repartition(2))
    t.setStatsColumns("tbl", Seq("id", "s", "d", "dt", "dec", "b"))
    val v = t.currentVersion("tbl").get
    val got = minMax(t.manifest("tbl", v).stats)
    val want = scanReference(t, "tbl", Seq("id", "s", "d", "dt", "dec", "b"))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("INT64-micros timestamp stats come from the footer as typed epoch micros") {
    import spark.implicits._
    withTimestampType("TIMESTAMP_MICROS") {
      val t = new TxLogTable(spark, tmp())
      val df = Seq(
        java.sql.Timestamp.valueOf("2024-02-01 12:00:00"),
        java.sql.Timestamp.valueOf("2024-02-21 12:00:00.000123"),
        java.sql.Timestamp.valueOf("0001-01-01 00:00:01"),
        java.sql.Timestamp.valueOf("8888-12-31 23:59:59"))
        .toDF("sdts")
      t.append("tbl", df.coalesce(1))
      t.setStatsColumns("tbl", Seq("sdts"))
      val v = t.currentVersion("tbl").get
      val got = minMax(t.manifest("tbl", v).stats)
      assert(got.values.toSeq ===
        Seq((micros("0001-01-01T00:00:01Z"), micros("8888-12-31T23:59:59Z"))))
      assert(got === scanReference(t, "tbl", Seq("sdts")))
      // fractional seconds keep their exact micros
      val t2 = new TxLogTable(spark, tmp())
      t2.append("tbl", Seq(
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00.5"),
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00.000001")).toDF("sdts").coalesce(1))
      t2.setStatsColumns("tbl", Seq("sdts"))
      val got2 = minMax(t2.manifest("tbl", t2.currentVersion("tbl").get).stats)
      assert(got2.values.toSeq ===
        Seq((micros("2024-02-01T00:00:00.000001Z"), micros("2024-02-01T00:00:00.5Z"))))
    }
  }

  test("INT96 timestamps fall back to the scan and stay correct") {
    import spark.implicits._
    withTimestampType("INT96") {
      val t = new TxLogTable(spark, tmp())
      t.append("tbl", Seq(
        java.sql.Timestamp.valueOf("2024-02-01 12:00:00"),
        java.sql.Timestamp.valueOf("2024-03-01 06:30:15")).toDF("sdts").coalesce(1))
      t.setStatsColumns("tbl", Seq("sdts"))
      val got = minMax(t.manifest("tbl", t.currentVersion("tbl").get).stats)
      assert(got.values.toSeq ===
        Seq((micros("2024-02-01T12:00:00Z"), micros("2024-03-01T06:30:15Z"))))
      assert(got === scanReference(t, "tbl", Seq("sdts")))
    }
  }

  test("all-NULL columns get no stats entry; files with them stay candidates") {
    import spark.implicits._
    val t = new TxLogTable(spark, tmp())
    t.append("tbl", Seq((1L, Option.empty[String]), (2L, None))
      .toDF("id", "s").coalesce(1))
    t.setStatsColumns("tbl", Seq("id", "s"))
    val v = t.currentVersion("tbl").get
    val got = minMax(t.manifest("tbl", v).stats)
    assert(got.keys.map(_._2).toSet === Set("id"), "all-NULL column must carry no entry")
    // IS NULL may match: the file stays a candidate
    val nulls = t.read("tbl").where($"s".isNull)
    assert(kept(t, "tbl", nulls) === t.files("tbl", v), "missing min/max must never prune")
    assert(nulls.count() === 2)
    // a value predicate rejects NULL, and the null count says every row is
    // NULL: the scan's IsNotNull drops the file, soundly
    val ranged = t.read("tbl").where($"s".between("zzz", "zzz"))
    assert(kept(t, "tbl", ranged).isEmpty)
    assert(ranged.count() === 0)
  }

  test("multi-rowgroup binary decimal stats combine in SIGNED order") {
    // decimal(38,2) stores as FIXED_LEN_BYTE_ARRAY — a signed big-endian
    // integer. Combining per-rowgroup min/max in unsigned byte order (the
    // string rule) ranks negatives ABOVE positives, so a file whose blocks
    // mix signs would store min > true min and wrong-prune. Tiny
    // parquet.block.size forces one file into many row groups.
    val t = new TxLogTable(spark, tmp())
    val hc = spark.sparkContext.hadoopConfiguration
    val prev = Option(hc.get("parquet.block.size"))
    hc.set("parquet.block.size", "1024")
    try {
      val df = spark.range(0, 4000).select(
        (col("id") - 2000).cast("decimal(38,2)").as("dec"))
      t.append("tbl", df.coalesce(1))
    } finally {
      prev match {
        case Some(p) => hc.set("parquet.block.size", p)
        case None    => hc.unset("parquet.block.size")
      }
    }
    t.setStatsColumns("tbl", Seq("dec"))
    val v = t.currentVersion("tbl").get
    val got = minMax(t.manifest("tbl", v).stats)
    assert(got === scanReference(t, "tbl", Seq("dec")))
    assert(got.values.toSeq === Seq((BigDecimal("-2000.00"), BigDecimal("1999.00"))))
    // single-file sanity: really exercised the multi-block combine
    assert(t.files("tbl", v).size === 1)
  }

  test("timestamps outside years 1-9999 keep exact typed footer stats") {
    import spark.implicits._
    withTimestampType("TIMESTAMP_MICROS") {
      val t = new TxLogTable(spark, tmp())
      t.append("tbl", Seq(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        // java.sql.Timestamp.valueOf rejects 5-digit years; go via Instant
        java.sql.Timestamp.from(java.time.Instant.parse("+10000-01-01T00:00:00Z")))
        .toDF("sdts").coalesce(1))
      t.setStatsColumns("tbl", Seq("sdts"))
      val got = minMax(t.manifest("tbl", t.currentVersion("tbl").get).stats)
      // epoch micros need no calendar rendering, so year 10000 is as
      // exact as any other
      assert(got === scanReference(t, "tbl", Seq("sdts")))
      assert(got.values.toSeq.map(_._2) === Seq(micros("+10000-01-01T00:00:00Z")))
    }
  }

  test("files predating an added column get no entry for it and never prune") {
    import spark.implicits._
    val t = new TxLogTable(spark, tmp())
    t.append("tbl", Seq(1L, 2L).toDF("id").coalesce(1))
    t.addColumn("tbl", "extra", "bigint")
    t.append("tbl", Seq((3L, 30L), (4L, 40L)).toDF("id", "extra").coalesce(1))
    t.setStatsColumns("tbl", Seq("id", "extra"))
    val v = t.currentVersion("tbl").get
    val live = t.files("tbl", v)
    val got = minMax(t.manifest("tbl", v).stats)
    // both files carry id stats; only the post-DDL file carries extra stats
    assert(got.keys.count(_._2 == "id") === 2)
    assert(got.keys.count(_._2.startsWith("extra")) === 1)
    // pruning on extra keeps the pre-DDL file as a candidate (safe) and
    // drops the post-DDL file whose [30, 40] misses the range
    def where(p: Column) = kept(t, "tbl", t.read("tbl").where(p))
    assert(where($"extra".between(100, 200)) === t.files("tbl", 1))
    assert(where($"extra".between(30, 40)).size === live.size)
    assert(where($"id".between(3, 4)).size === 1)
  }

  test("older per-column string #fstat lines read as no stats and never prune") {
    import spark.implicits._
    val t = new TxLogTable(spark, tmp())
    t.append("tbl", Seq(1L, 2L).toDF("id").coalesce(1))
    t.append("tbl", Seq(8L, 9L).toDF("id").coalesce(1))
    t.setStatsColumns("tbl", Seq("id"))
    val v = t.currentVersion("tbl").get
    val live = t.files("tbl", v)
    def high = t.read("tbl").where($"id".between(8, 9))
    assert(kept(t, "tbl", high).size === 1)
    // the next version carries the manifest as the parent format wrote it:
    // one `#fstat file col min max` line per column, CAST-AS-STRING values
    val log = java.nio.file.Paths.get(t.baseDir, "tbl", "_log")
    val old = Files.readAllLines(log.resolve(f"v$v%08d.manifest")).toArray.toSeq
      .map(_.toString).flatMap { l =>
        if (!l.startsWith("#fstat\t")) Seq(l)
        else {
          val f = l.split('\t')(1)
          val ids = if (f == live.head) ("1", "2") else ("8", "9")
          Seq(s"#fstat\t$f\tid\t${ids._1}\t${ids._2}")
        }
      }
    Files.write(log.resolve(f"v${v + 1}%08d.manifest"), old.mkString("\n").getBytes("UTF-8"))
    assert(t.manifest("tbl", v + 1).stats.isEmpty)
    assert(kept(t, "tbl", high) === live)
    t.registerViews("oldfs_")
    assert(spark.sql("SELECT id FROM oldfs_tbl WHERE id >= 8").as[Long].collect().sorted
      .toSeq === Seq(8L, 9L))
  }

  test("sqlScan prunes on decimal and timestamp stats and returns exact rows") {
    import spark.implicits._
    withTimestampType("TIMESTAMP_MICROS") {
      val t = new TxLogTable(spark, tmp())
      Seq(("-5.25", "2023-06-01 00:00:00"), ("3.10", "2024-06-01 12:30:00"),
          ("7.75", "2025-06-01 23:59:59.5")).foreach { case (d, ts) =>
        t.append("tbl", Seq((d, ts)).toDF("d", "ts").select(
          col("d").cast("decimal(10,2)").as("dec"), col("ts").cast("timestamp").as("ts"),
          col("ts").cast("timestamp_ntz").as("ntz")).coalesce(1))
      }
      t.setStatsColumns("tbl", Seq("dec", "ts", "ntz"))
      t.registerViews("dts_")
      // decimal literals of scale 2 keep the comparison on the bare column
      def scanned(where: String): (Long, Seq[String]) = {
        val df = spark.sql(s"SELECT dec FROM dts_tbl WHERE $where")
        val rows = df.collect().map(_.getDecimal(0).toPlainString).sorted.toSeq
        def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f.metrics("numFiles").value)
          case other => other.children.flatMap(scans)
        }
        (scans(df.queryExecution.executedPlan).sum, rows)
      }
      assert(scanned("dec < 0.00") === ((1L, Seq("-5.25"))))
      assert(scanned("dec BETWEEN -1.00 AND 5.00") === ((1L, Seq("3.10"))))
      assert(scanned("dec = 7.75") === ((1L, Seq("7.75"))))
      assert(scanned("ts > TIMESTAMP'2024-06-01 12:30:00'") === ((1L, Seq("7.75"))))
      assert(scanned("ts >= TIMESTAMP'2024-06-01 12:30:00'") === ((2L, Seq("3.10", "7.75"))))
      assert(scanned("ntz < TIMESTAMP_NTZ'2024-01-01 00:00:00'") === ((1L, Seq("-5.25"))))
      assert(scanned("ntz = TIMESTAMP_NTZ'2025-06-01 23:59:59.5'") === ((1L, Seq("7.75"))))
      assert(scanned("dec > 100.00") === ((0L, Seq.empty[String])))
    }
  }
}
