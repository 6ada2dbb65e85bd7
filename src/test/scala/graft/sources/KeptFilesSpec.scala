package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, expr, input_file_name}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.runtime.TxLogTable

/** Soundness of the one file-skipping decision — [[LogScan.keptFiles]],
  * the files a planned scan's [[LogFileIndex]] keeps — on all three
  * formats, over random small tables (at most 4 files and 50 rows, stats
  * from the footers, a bloom on TxLogTable) and random predicates (`=`,
  * IN, ranges, IS [NOT] NULL, AND/OR):
  *
  *  - every file holding a matching row is kept;
  *  - the filtered read returns exactly the rows the same filter keeps of
  *    the table's rows held in memory (a local relation, no file scan). */
class KeptFilesSpec extends SparkSpec {
  import KeptFilesSpec._

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("s", StringType), StructField("f", IntegerType)))

  /** `c`'s rows as one commit of one write job, one file per non-empty
    * row group; returns a reader of the table's head */
  private def table(format: String, c: Case): () => DataFrame = {
    val dir = Files.createTempDirectory("graft_kept").resolve("t").toString
    val rows = c.files.zipWithIndex.flatMap { case (rs, f) =>
      rs.map { case (k, s) => Row(k.map(Long.box).orNull, s.orNull, f) }
    }
    val df = spark.createDataFrame(rows.asJava, schema)
      .repartitionByRange(c.files.size, col("f")).drop("f")
    format match {
      case "txlog" =>
        val t = new TxLogTable(spark, dir)
        t.append("t", df)
        t.setStatsColumns("t", Seq("k", "s"))
        t.setBloomColumn("t", c.bloom)
        () => t.read("t")
      case "delta" =>
        DeltaWrite.write(df, dir)
        () => DeltaRead.read(spark, dir)
      case "iceberg" =>
        IcebergWrite.write(df, dir)
        () => IcebergRead.read(spark, dir)
    }
  }

  private def sound(format: String, c: Case): Prop = {
    val read = table(format, c)
    val all = read().withColumn("__file", input_file_name())
    val held = spark.createDataFrame(all.collect().toSeq.asJava, all.schema)
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Prop.all(c.preds.map { p =>
      val filtered = read().where(expr(p))
      // a predicate the optimizer proves false (`k = 6 AND k > 27`) plans
      // no scan at all: no file is read
      val scans = filtered.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      val kept = if (scans.isEmpty) Set.empty[java.nio.file.Path] else LogScan.keptFiles(filtered).toSet
      val matching = held.where(expr(p))
      val holding = matching.select("__file").distinct().collect()
        .map(r => Paths.get(new java.net.URI(r.getString(0)))).toSet
      (holding.subsetOf(kept) :| s"[$p]: files with matching rows not kept: ${holding -- kept}") &&
        ((sorted(filtered) == sorted(matching.drop("__file"))) :| s"[$p]: read != in-memory filter")
    }: _*)
  }

  /** `cases` random tables in `format`, each probed by its predicates */
  private def check(format: String, seed: Long, cases: Int): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(cases)
      .withWorkers(1).withInitialSeed(Seed(seed))
    val result = Test.check(params, Prop.forAllNoShrink(genCase)(c => sound(format, c)))
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }

  test("kept files are sound on TxLogTable (stats and a bloom)") { check("txlog", 11L, 6) }
  test("kept files are sound on Delta (add.stats)") { check("delta", 12L, 6) }
  test("kept files are sound on Iceberg (manifest bounds)") { check("iceberg", 13L, 6) }
}

object KeptFilesSpec {
  /** one table: each file's (k, s) rows, the TxLogTable bloom column and
    * the predicates probed against it */
  final case class Case(files: Seq[Seq[(Option[Long], Option[String])]], bloom: String,
                        preds: Seq[String])

  private val strs = Seq("a", "b", "c", "d")

  /** a file's keys cluster in [lo, lo + span], so files overlap or not */
  private val genFile: Gen[Seq[(Option[Long], Option[String])]] = for {
    lo <- Gen.choose(0L, 40L)
    span <- Gen.choose(0L, 10L)
    n <- Gen.choose(1, 12)
    rows <- Gen.listOfN(n, for {
      k <- Gen.frequency(1 -> Gen.const(None), 7 -> Gen.choose(lo, lo + span).map(Some(_)))
      s <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.oneOf(strs).map(Some(_)))
    } yield (k, s))
  } yield rows

  /** a key constant: half the time one of the table's own keys, give or
    * take one, so comparisons land on file bounds */
  private def genKey(keys: Seq[Long]): Gen[Long] =
    if (keys.isEmpty) Gen.choose(-2L, 52L)
    else Gen.oneOf(Gen.choose(-2L, 52L),
      for (k <- Gen.oneOf(keys); d <- Gen.choose(-1L, 1L)) yield k + d)

  private val genStr = Gen.oneOf(strs)

  private def genAtom(keys: Seq[Long]): Gen[String] = {
    val key = genKey(keys)
    Gen.oneOf(
      key.map(v => s"k = $v"),
      Gen.listOfN(3, key).map(vs => s"k IN (${vs.mkString(", ")})"),
      for (a <- key; b <- key) yield s"k BETWEEN ${a min b} AND ${a max b}",
      key.map(v => s"k > $v"),
      key.map(v => s"k <= $v"),
      Gen.const("k IS NULL"),
      Gen.const("k IS NOT NULL"),
      genStr.map(v => s"s = '$v'"),
      Gen.listOfN(2, genStr).map(vs => s"s IN (${vs.map(v => s"'$v'").mkString(", ")})"),
      genStr.map(v => s"s >= '$v'"),
      Gen.const("s IS NULL"))
  }

  private def genPred(keys: Seq[Long]): Gen[String] = Gen.frequency(
    3 -> genAtom(keys),
    2 -> (for (a <- genAtom(keys); b <- genAtom(keys); op <- Gen.oneOf("AND", "OR"))
      yield s"($a) $op ($b)"))

  val genCase: Gen[Case] = for {
    n <- Gen.choose(1, 4)
    files <- Gen.listOfN(n, genFile)
    bloom <- Gen.oneOf("k", "s")
    preds <- Gen.listOfN(6, genPred(files.flatten.flatMap(_._1)))
  } yield Case(files, bloom, preds)
}
