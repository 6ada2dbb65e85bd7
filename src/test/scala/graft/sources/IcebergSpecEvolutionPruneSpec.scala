package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Pruning soundness over PARTITION SPEC EVOLUTION (foreign tables:
  * each manifest binds to the spec it was written under, so files from
  * an evolved-away spec LACK the current spec's tuple keys): a missing
  * key must mean "unprunable on that column", never "null tuple" — a
  * null tuple means a genuinely all-null source column and prunes
  * null-rejecting predicates exactly. */
class IcebergSpecEvolutionPruneSpec extends SparkSpec {
  import spark.implicits._

  test("updateSpec: old files ride their spec, new files the new one, compact migrates") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = Files.createTempDirectory("graft_updatespec").resolve("t").toString
    val mkTs = (d: Int) => java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-03-0${d}%dT12:00:00Z"))
    val era1 = Seq((1L, mkTs(1), "a"), (2L, mkTs(2), "b"), (3L, mkTs(3), "a"))
      .toDF("id", "ts", "par")
    IcebergWrite.write(era1, t, Seq("par"))                      // spec 0
    IcebergWrite.updateSpec(t, Seq("days(ts)"))                  // spec 1
    val era2 = Seq((4L, mkTs(4), "b"), (5L, mkTs(5), "a")).toDF("id", "ts", "par")
    IcebergWrite.write(era2, t)                                  // under days(ts)
    val snap = IcebergRead.snapshot(t)
    assert(snap.partitionFields.map(_.transform) ==
      Seq(IcebergTransforms.Day))
    // old files keep par tuples, new ones ts_day tuples
    assert(snap.files.filter(_.partitionValues.contains("par"))
      .map(_.partitionValues("par")).toSet == Set("a", "b"))
    assert(snap.files.count(_.partitionValues.contains("ts_day")) == 2)
    val all = IcebergRead.read(spark, t)
    assert(all.count() == 5)
    // day pruning hits only new-spec files; old-spec files stay scheduled
    // ts >= day 5: the day-4 new-spec file prunes; old-spec files stay
    // scheduled (unprunable through the retired channel)
    val day5 = java.time.LocalDate.parse("2024-03-05").toEpochDay
    val ranged = all.filter(col("ts") >= lit(mkTs(5)))
    val scheduled = ranged.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.totalNumberOfFiles.toInt
    }.sum
    val predicted = snap.files.count(f =>
      f.partitionValues.get("ts_day").forall(_.toLong >= day5))
    assert(scheduled == predicted && scheduled < snap.files.size)
    assert(ranged.select(col("id")).as[Long].collect().toSet == Set(5L))
    // compaction migrates everything into the CURRENT spec's layout
    IcebergWrite.rewriteDataFiles(spark, t, targetFileBytes = 1L << 30)
    val snap2 = IcebergRead.snapshot(t)
    assert(snap2.files.forall(_.partitionValues.contains("ts_day")),
      s"compact must re-lay old files under days(ts): " +
        s"${snap2.files.map(_.partitionValues)}")
    assert(IcebergRead.read(spark, t).count() == 5)
  }

  test("old-spec files (missing tuple key) are never identity-pruned") {
    val dir = Files.createTempDirectory("graft_specevo")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("par", StringType)))
    def file(name: String, rows: Seq[(Long, String)]): String = {
      val p = dir.resolve(name).toString
      rows.toDF("id", "par").coalesce(1).write.mode("overwrite").parquet(p)
      val part = Files.list(java.nio.file.Paths.get(p))
      val f = try {
        import scala.jdk.CollectionConverters._
        part.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      } finally part.close()
      f.toString
    }
    val fNew = file("new", Seq((1L, "a")))          // current spec: par=a
    val fOld = file("old", Seq((2L, "b")))          // old spec: NO tuple key
    val snap = IcebergRead.Snapshot(1L, schema, Seq("par"),
      Seq(
        IcebergRead.DataFile(fNew, Map("par" -> "a"), 10L, 1L),
        IcebergRead.DataFile(fOld, Map.empty, 10L, 1L)),
      fieldIdToName = Map(1 -> "id", 2 -> "par"),
      partitionFields = Seq(IcebergTransforms.PartField("par", "par",
        IcebergTransforms.Identity)))
    val idx = IcebergRead.fileIndex(spark, snap)
    val parAttr = AttributeReference("par", StringType)()
    def scheduled(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      idx.listFiles(Nil, filters).flatMap(_.files).map(_.getPath.toString)
    // par = 'b': the new-spec 'a' file prunes; the old-spec file MUST
    // stay scheduled (its rows might match — and here they do)
    val kept = scheduled(Seq(EqualTo(parAttr,
      Literal(UTF8String.fromString("b"), StringType))))
    assert(kept.size == 1 && kept.head.contains("old"),
      s"old-spec file wrongly pruned (or new kept): $kept")
    // no filters: both scheduled
    assert(scheduled(Nil).size == 2)
    // the planned scan over the same index keeps the same files
    def keptFor(vs: String*) = LogScan.keptFiles(LogScan.scan(spark, idx)
      .where($"par".isin(vs: _*))).map(_.toString)
    assert(keptFor("b") == Seq(fOld))
    assert(keptFor("a", "b").toSet == Set(fNew, fOld))
  }
}
