package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract of Iceberg format-v2 row-level deletes (merge-on-read):
  * position deletes bind to exact (file, row position), equality deletes
  * bind to key values and ONLY reach data files with a smaller sequence
  * number, both survive later snapshots via carried delete manifests. */
class IcebergDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(): String =
    Files.createTempDirectory("graft_ice_del_spec").resolve("t").toString

  /** one sorted single-file snapshot so physical positions are pinned:
    * pos i holds id = 10*i */
  private def seeded(): (String, String) = {
    val t = tbl()
    val df = spark.range(0, 10).select(($"id" * 10).as("id"),
      concat(lit("v"), $"id").as("v")).orderBy("id")
    val files = IcebergFixture.snapshot(spark, t, df.schema, Nil, 1L,
      Seq(Map.empty[String, String] -> df))
    (t, files.head)
  }

  test("position deletes suppress exactly the named rows") {
    val (t, f) = seeded()
    IcebergFixture.positionDeleteSnapshot(spark, t, 2L,
      Seq(f -> 0L, f -> 3L, f -> 9L)) // ids 0, 30, 90
    val snap = IcebergRead.snapshot(t)
    assert(snap.deletes.size == 1 && !snap.deletes.head.isEquality)
    val ids = IcebergRead.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == Set(10L, 20L, 40L, 50L, 60L, 70L, 80L))
  }

  test("equality deletes remove matching keys from OLDER files only") {
    val (t, _) = seeded()
    IcebergFixture.equalityDeleteSnapshot(spark, t, 2L, Seq("id"),
      Seq(20L, 50L, 777L).toDF("id"))
    assert(IcebergRead.read(spark, t).select("id").as[Long].collect().toSet ==
      Set(0L, 10L, 30L, 40L, 60L, 70L, 80L, 90L))
    // re-append id=20 in snapshot 3: its data seq (3) >= delete seq (2),
    // so the NEW row must survive — the spec's MoR sequencing rule
    val re = Seq((20L, "reborn")).toDF("id", "v")
    IcebergFixture.snapshot(spark, t, re.schema, Nil, 3L,
      Seq(Map.empty[String, String] -> re))
    val ids = IcebergRead.read(spark, t).select("id").as[Long].collect().toSeq
    assert(ids.count(_ == 20L) == 1, "re-appended key must resurface exactly once")
    assert(!ids.contains(50L), "carried delete manifest still applies to old files")
  }

  test("position + equality deletes compose") {
    val (t, f) = seeded()
    IcebergFixture.positionDeleteSnapshot(spark, t, 2L, Seq(f -> 1L)) // id 10
    IcebergFixture.equalityDeleteSnapshot(spark, t, 3L, Seq("id"),
      Seq(40L).toDF("id"))
    assert(IcebergRead.read(spark, t).select("id").as[Long].collect().toSet ==
      Set(0L, 20L, 30L, 50L, 60L, 70L, 80L, 90L))
  }

  test("building a read over position and equality deletes starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (t, f) = seeded()
    IcebergFixture.positionDeleteSnapshot(spark, t, 2L, Seq(f -> 1L)) // id 10
    IcebergFixture.equalityDeleteSnapshot(spark, t, 3L, Seq("id"),
      Seq(40L).toDF("id"))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("ice-read", "build a read")
      val df = try IcebergRead.read(spark, t) finally sc.clearJobGroup()
      // listener events arrive in order: once the sentinel job's start is
      // seen, every job the read could have started has been seen too
      sc.setJobGroup("ice-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("ice-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("ice-sentinel"))
      assert(!groups.contains("ice-read"),
        "building the read ran a Spark job (delete-file schema inference?)")
      assert(df.select("id").as[Long].collect().toSet ==
        Set(0L, 20L, 30L, 50L, 60L, 70L, 80L, 90L))
    } finally sc.removeSparkListener(listener)
  }

  test("record counts and accounting: logical = physical - deletes applied") {
    val (t, f) = seeded()
    IcebergFixture.positionDeleteSnapshot(spark, t, 2L, Seq(f -> 0L, f -> 1L))
    val snap = IcebergRead.snapshot(t)
    val phys = snap.files.map(_.recordCount).sum
    assert(phys == 10L)
    assert(IcebergRead.read(spark, t).count() ==
      phys - snap.deletes.map(_.recordCount).sum)
  }

  test("IcebergWrite.deleteWhere: distributed MoR delete; re-delete accumulates") {
    val t = tbl()
    IcebergWrite.write(spark.range(0, 100, 1, 2).select($"id"), t)
    val files0 = IcebergRead.snapshot(t).files.map(_.path).toSet
    val v = IcebergWrite.deleteWhere(spark, t, col("id") < 10)
    assert(v == 2L)
    val snap = IcebergRead.snapshot(t)
    assert(snap.files.map(_.path).toSet == files0,
      "MoR delete must not rewrite or drop data files")
    assert(snap.deletes.size == 1 && !snap.deletes.head.isEquality)
    assert(IcebergRead.read(spark, t).count() == 90L)
    // overlapping re-delete: both delete files stay live, union semantics
    IcebergWrite.deleteWhere(spark, t, col("id") < 20)
    assert(IcebergRead.read(spark, t).count() == 80L)
    assert(IcebergRead.read(spark, t).agg(min(col("id"))).head().getLong(0) == 20L)
    // empty delete is a no-op, not an empty snapshot
    assert(IcebergWrite.deleteWhere(spark, t, col("id") > 5000) == 3L)
    // appends after deletes coexist (delete files carried forward)
    IcebergWrite.write(spark.range(1000, 1010).select($"id"), t)
    assert(IcebergRead.read(spark, t).count() == 90L)
  }

  test("mixed equality_ids sets are rejected loudly") {
    val (t, _) = seeded()
    IcebergFixture.equalityDeleteSnapshot(spark, t, 2L, Seq("id"),
      Seq(20L).toDF("id"))
    IcebergFixture.equalityDeleteSnapshot(spark, t, 3L, Seq("v"),
      Seq("v5").toDF("v"))
    val e = intercept[IllegalArgumentException] {
      IcebergRead.read(spark, t).count()
    }
    assert(e.getMessage.contains("equality_ids"))
  }
}
