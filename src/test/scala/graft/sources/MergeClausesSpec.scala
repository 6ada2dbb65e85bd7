package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import MergeClauses._

/** Contract of the full MERGE clause family on both open formats:
  * first-match-wins clause order, clause conditions referencing both
  * sides, column-subset UPDATE (the reference rehash shape —
  * rehash_single_hub.sql:84-111), WHEN MATCHED DELETE, WHEN NOT
  * MATCHED BY SOURCE, per-clause CDF images, untouched-file economy,
  * and Delta/Iceberg result parity. */
class MergeClausesSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(pfx: String): String =
    Files.createTempDirectory(pfx).resolve("t").toString

  private def base = (1L to 10L).map(i => (i, s"v$i", i * 10.0))
    .toDF("id", "s", "price")

  // source: 2,3 match; 11 is new; 4 matches but fails every condition
  private def src = Seq(
    (2L, "patched", 95.0),   // update (price > 50 fails: 20 < 50 → cond on s)
    (3L, "bye", 0.0),        // delete (s.price = 0)
    (4L, "skip", 40.0),      // matches but no clause condition holds → carry
    (11L, "new", 110.0)      // insert
  ).toDF("id", "s", "price")

  private val clauses = Seq(
    MatchedDelete(Some(expr("s.price = 0"))),
    MatchedUpdate(Map("s" -> col("s.s"), "price" -> col("s.price")),
      Some(expr("s.price > t.price"))),
    NotMatchedInsert(Some(expr("s.price > 100"))))

  private val expected: Set[(Long, String, Double)] =
    (1L to 10L).filterNot(_ == 3L).map { i =>
      if (i == 2L) (2L, "patched", 95.0) else (i, s"v$i", i * 10.0)
    }.toSet + ((11L, "new", 110.0))

  test("delta: conditions, delete, subset update, insert — first match wins") {
    val t = tbl("graft_mc_delta")
    DeltaWrite.write(base.repartition(4), t)
    val before = DeltaRead.snapshot(t).files.map(_.path).toSet
    DeltaWrite.mergeClauses(spark, t, src, Seq("id"), clauses)
    assert(DeltaRead.read(spark, t).as[(Long, String, Double)]
      .collect().toSet == expected)
    // economy: files with no source key (ids 5-10 band) survive untouched
    val after = DeltaRead.snapshot(t).files.map(_.path).toSet
    assert((before intersect after).nonEmpty, "some files must be carried")
  }

  test("iceberg: same clauses, same result (format parity)") {
    val t = tbl("graft_mc_ice")
    IcebergWrite.write(base.repartition(4), t)
    val before = IcebergRead.snapshot(t).files.map(_.path).toSet
    IcebergWrite.mergeClauses(spark, t, src, Seq("id"), clauses)
    assert(IcebergRead.read(spark, t).as[(Long, String, Double)]
      .collect().toSet == expected)
    val snap = IcebergRead.snapshot(t)
    assert((before intersect snap.files.map(_.path).toSet).nonEmpty)
    // the changelog classifies the commit as an overwrite
    assert(IcebergRead.readChanges(spark, t, 1L, snap.snapshotId)
      .filter(col("_change_type") === "insert" && col("id") === 11L).count() == 1)
  }

  test("not matched by source: update and delete touch unsourced rows") {
    val t = tbl("graft_mc_bysource")
    DeltaWrite.write(base, t)
    // source names only 1..3; archive everything the source dropped:
    // high-price unsourced rows are deleted, the rest get flagged
    DeltaWrite.mergeClauses(spark, t,
      Seq((1L, "keep1", 10.0), (2L, "keep2", 20.0), (3L, "keep3", 30.0))
        .toDF("id", "s", "price"),
      Seq("id"),
      Seq(MatchedUpdate(), // SET * (full-schema source)
        BySourceDelete(Some(expr("t.price > 80"))),
        BySourceUpdate(Map("s" -> concat(lit("stale_"), col("t.s"))))))
    val got = DeltaRead.read(spark, t).as[(Long, String, Double)].collect().toSet
    val want = Set(
      (1L, "keep1", 10.0), (2L, "keep2", 20.0), (3L, "keep3", 30.0),
      (4L, "stale_v4", 40.0), (5L, "stale_v5", 50.0), (6L, "stale_v6", 60.0),
      (7L, "stale_v7", 70.0), (8L, "stale_v8", 80.0))
    assert(got == want) // 9, 10 deleted (price > 80)
  }

  test("per-clause CDF: updates, deletes, inserts in the change feed") {
    val t = tbl("graft_mc_cdf")
    DeltaWrite.write(base, t)
    DeltaWrite.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    val v = DeltaWrite.mergeClauses(spark, t, src, Seq("id"), clauses)
    val feed = DeltaRead.readChangeFeed(spark, t, v - 1, v)
    val byType = feed.groupBy(col("_change_type")).count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L,
      "delete" -> 1L, "insert" -> 1L))
    assert(feed.filter(col("_change_type") === "update_preimage")
      .select(col("s")).as[String].head() == "v2")
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select(col("s")).as[String].head() == "patched")
    assert(feed.filter(col("_change_type") === "delete")
      .select(col("id")).as[Long].head() == 3L)
    assert(feed.filter(col("_change_type") === "insert")
      .select(col("id")).as[Long].head() == 11L)
  }

  test("rehash shape: subset source updates one column, no insert clause") {
    val t = tbl("graft_mc_rehash")
    DeltaWrite.write(base, t)
    // source carries ONLY (key, replacement) — the rehash MERGE shape;
    // custom aliases because the table has a column literally named "s"
    val rehash = Seq((2L, "h2"), (5L, "h5")).toDF("id", "news")
    DeltaWrite.mergeClauses(spark, t, rehash, Seq("id"),
      Seq(MatchedUpdate(Map("s" -> col("src.news")))),
      aliases = ("tgt", "src"))
    val got = DeltaRead.read(spark, t).as[(Long, String, Double)].collect().toSet
    assert(got == (1L to 10L).map { i =>
      (i, if (i == 2L) "h2" else if (i == 5L) "h5" else s"v$i", i * 10.0)
    }.toSet)
  }

  test("guards: duplicate source keys and missing schema reject loudly") {
    val t = tbl("graft_mc_guards")
    DeltaWrite.write(base, t)
    intercept[IllegalArgumentException] {
      DeltaWrite.mergeClauses(spark, t,
        Seq((2L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "s", "price"),
        Seq("id"), Seq(MatchedUpdate()))
    }
    // INSERT * from a subset source must reject, not null-fill
    intercept[IllegalArgumentException] {
      DeltaWrite.mergeClauses(spark, t, Seq((99L, "x")).toDF("id", "s"),
        Seq("id"), Seq(NotMatchedInsert()))
    }
  }

  test("upsert plans without a full-outer join; a conditional list keeps it") {
    import org.apache.spark.sql.catalyst.plans.FullOuter
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def fullOuterJoins(cs: Seq[Clause]): Int = {
      val (out, _) = MergeClauses(base, src, Seq("id"), cs, base.schema)
      out.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == FullOuter => j
      }.size
    }
    assert(fullOuterJoins(Seq(MatchedUpdate(), NotMatchedInsert())) == 0)
    assert(fullOuterJoins(clauses) > 0)
  }
}
