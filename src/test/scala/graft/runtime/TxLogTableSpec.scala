package graft.runtime

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.runtime.TxLogTable.{ColMap, EqDelete, Manifest}
import graft.sources.LogScan
import graft.sources.StatsSkip.FileStats

class TxLogTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (TxLogTable, String) = {
    val dir = Files.createTempDirectory("txlog").toString
    (new TxLogTable(spark, dir), dir)
  }

  /** the manifest paths of the files the planned scan of `df` (a read of
    * `name`) keeps */
  private def kept(t: TxLogTable, name: String, df: DataFrame): Seq[String] =
    LogScan.keptFiles(df).map(t.root(name).relativize(_).toString)

  test("append then read: versions accumulate, contents union") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append("tbl", Seq((3, "c")).toDF("id", "v"))
    assert(t.currentVersion("tbl").contains(2L))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("snapshot isolation: a reader resolved before an overwrite keeps its rows") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "old")).toDF("id", "v"))
    val before = t.read("tbl") // resolves v1's file list now
    t.overwrite("tbl", Seq((1, "new")).toDF("id", "v"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet === Set((1, "new")))
    assert(before.as[(Int, String)].collect().toSet === Set((1, "old")),
      "pre-overwrite DataFrame must still see its snapshot")
  }

  test("time travel reads any retained version") {
    val (t, _) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    t.append("tbl", Seq(2).toDF("id"))
    t.overwrite("tbl", Seq(9).toDF("id"))
    assert(t.readVersion("tbl", 1).as[Int].collect().toSet === Set(1))
    assert(t.readVersion("tbl", 2).as[Int].collect().toSet === Set(1, 2))
    assert(t.readVersion("tbl", 3).as[Int].collect().toSet === Set(9))
  }

  test("optimistic concurrency: stale overwrite aborts loudly") {
    val (t, _) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    val derivedFrom = t.currentVersion("tbl").get
    t.append("tbl", Seq(2).toDF("id")) // concurrent writer moves the head
    val e = intercept[IllegalArgumentException] {
      t.overwrite("tbl", Seq(99).toDF("id"), expectedVersion = Some(derivedFrom))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the concurrent append's result is intact
    assert(t.read("tbl").as[Int].collect().toSet === Set(1, 2))
  }

  test("read-modify-overwrite: a frame derived from the table replaces it; a commit in between aborts it") {
    val (t, _) = freshStore()
    t.append("tbl", (1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append("tbl", Seq((11, "v11")).toDF("id", "v"))
    def f(df: org.apache.spark.sql.DataFrame) =
      df.filter($"id" % 3 =!= 0).withColumn("v", org.apache.spark.sql.functions.upper($"v"))
    val want = (1 to 11).filter(_ % 3 != 0).map(i => (i, s"V$i")).toSet
    // the overwrite's batch is computed from the very files it replaces
    val v = t.currentVersion("tbl").get
    t.overwrite("tbl", f(t.read("tbl")), expectedVersion = Some(v))
    assert(t.read("tbl").as[(Int, String)].collect().toSet === want)
    // a commit between the read and the overwrite aborts the overwrite
    val v2 = t.currentVersion("tbl").get
    val derived = f(t.read("tbl"))
    t.append("tbl", Seq((12, "v12")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException] {
      t.overwrite("tbl", derived, expectedVersion = Some(v2))
    }
    assert(e.getMessage.contains("concurrent commit"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet === want + ((12, "v12")))
  }

  test("manifest CAS: a racing commit of the same version loses cleanly") {
    val (t, dir) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    // simulate the race: another writer publishes v2 out from under us…
    t.append("tbl", Seq(2).toDF("id"))
    // …then a retried append still lands (as v3) with nothing lost
    t.append("tbl", Seq(3).toDF("id"))
    assert(t.versions("tbl") === Seq(1L, 2L, 3L))
    assert(t.read("tbl").as[Int].collect().toSet === Set(1, 2, 3))
    // no stray tmp manifests survive
    val logDir = Paths.get(dir, "tbl", "_log")
    val s = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      assert(s.iterator().asScala.count(
        _.getFileName.toString.startsWith(".tmp-")) === 0)
    } finally s.close()
  }

  test("manifest CAS: a delete that loses the race fails loudly, naming the operation") {
    val (t, dir) = freshStore()
    t.append("tbl", Seq(1, 2).toDF("id"))
    val v1 = Paths.get(dir, "tbl", "_log", "v00000001.manifest").toString
    val v2 = Paths.get(dir, "tbl", "_log", "v00000002.manifest").toString
    // another writer publishes v2 while the delete derives its keys
    val race = org.apache.spark.sql.functions.udf { (id: Int) =>
      if (!Files.exists(Paths.get(v2))) Files.copy(Paths.get(v1), Paths.get(v2))
      id
    }.asNondeterministic()
    val e = intercept[IllegalStateException] {
      t.deleteWhereKeys("tbl", Seq(1).toDF("id").select(race($"id").as("id")), Seq("id"))
    }
    assert(e.getMessage === "TxLogTable tbl: lost commit race on deleteWhere — " +
      "re-derive from the new head and retry")
    assert(t.versions("tbl") === Seq(1L, 2L))
    assert(t.read("tbl").as[Int].collect().toSet === Set(1, 2))
  }

  test("crash mid-commit: an orphaned tmp manifest is invisible") {
    val (t, dir) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    // a writer that died after staging but before the CAS
    Files.write(Paths.get(dir, "tbl", "_log", ".tmp-dead"),
      "d-bogus/part-0.parquet".getBytes("UTF-8"))
    assert(t.versions("tbl") === Seq(1L))
    assert(t.read("tbl").as[Int].collect().toSet === Set(1))
  }

  test("a manifest without a column mapping (#col lines) is rejected") {
    val (t, dir) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    Files.write(Paths.get(dir, "tbl", "_log", "v00000002.manifest"),
      t.files("tbl", 1).mkString("\n").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](t.read("tbl"))
    assert(e.getMessage.contains("no column mapping"))
  }

  test("replaceFiles rewrites only touched files; untouched files survive by identity") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a")).toDF("id", "v"))
    t.append("tbl", Seq((2, "b")).toDF("id", "v"))
    val v = t.currentVersion("tbl").get
    val all = t.files("tbl", v)
    val batch1 = all.filter(_.startsWith(t.files("tbl", 1).head.split("/")(0)))
    t.replaceFiles("tbl", batch1)(df =>
      df.withColumn("v", org.apache.spark.sql.functions.upper($"v")))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "A"), (2, "b")))
    // the untouched file is the SAME path in the new manifest (no rewrite)
    val untouched = all.filterNot(batch1.contains)
    assert(untouched.forall(t.files("tbl", v + 1).contains))
  }

  test("replaceFiles over non-live files is rejected") {
    val (t, _) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      t.replaceFiles("tbl", Seq("d-nope/part-0.parquet"))(identity)
    }
    assert(e.getMessage.contains("non-live"))
  }

  test("merge replaces matched rows, inserts new ones, and prunes untouched files") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append("tbl", Seq((3, "c"), (4, "d")).toDF("id", "v"))
    val v = t.currentVersion("tbl").get
    val batch2 = t.files("tbl", 2).filterNot(t.files("tbl", 1).contains)
    // source matches only ids in batch 1 (1), plus a brand-new id (9)
    t.merge("tbl", Seq((1, "A"), (9, "z")).toDF("id", "v"), Seq("id"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "A"), (2, "b"), (3, "c"), (4, "d"), (9, "z")))
    // batch-2 files held no matched keys — they carry over by identity
    assert(batch2.forall(t.files("tbl", v + 1).contains),
      "files without matched keys must not be rewritten")
  }

  test("merge into a table with no matched keys is a pure insert") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a")).toDF("id", "v"))
    val before = t.files("tbl", 1)
    t.merge("tbl", Seq((2, "b")).toDF("id", "v"), Seq("id"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "b")))
    assert(before.forall(t.files("tbl", 2).contains))
  }

  test("DDL is metadata-only: add/rename/drop column touch zero data files") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val dataFiles = t.files("tbl", 1)
    t.addColumn("tbl", "score", "double")
    t.renameColumn("tbl", "v", "payload")
    t.dropColumn("tbl", "id")
    // three DDL commits, identical file lists throughout
    assert(t.versions("tbl") === Seq(1L, 2L, 3L, 4L))
    (2L to 4L).foreach(v => assert(t.files("tbl", v) === dataFiles,
      s"DDL version $v must reference the same data files"))
    val out = t.read("tbl")
    assert(out.columns.toSeq === Seq("payload", "score"))
    assert(out.as[(String, Option[Double])].collect().toSet ===
      Set(("a", None), ("b", None)), "pre-DDL rows null-fill the added column")
  }

  test("added column accepts appends; old files null-fill through the mapping") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a")).toDF("id", "v"))
    t.addColumn("tbl", "score", "double")
    t.append("tbl", Seq((2, "b", 0.5)).toDF("id", "v", "score"))
    assert(t.read("tbl").as[(Int, String, Option[Double])].collect().toSet ===
      Set((1, "a", None), (2, "b", Some(0.5))))
  }

  test("drop-then-readd never resurrects the dropped column's bytes") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "secret")).toDF("id", "v"))
    t.dropColumn("tbl", "v")
    t.addColumn("tbl", "v", "string")
    assert(t.read("tbl").as[(Int, Option[String])].collect().toSet ===
      Set((1, None)), "re-added column must read NULL, not the old bytes")
  }

  test("renamed column round-trips through merge") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.renameColumn("tbl", "v", "payload")
    t.merge("tbl", Seq((2, "B"), (3, "c")).toDF("id", "payload"), Seq("id"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("TxRehash: one data pass, deprecated column kept, ghosts keep sentinel keys") {
    import graft.expr.{HashConfig, Hashing}
    val oldCfg = HashConfig()
    val newCfg = HashConfig(algorithm = "SHA256")
    val (t, _) = freshStore()
    val rows = Seq("k1", "k2").toDF("bk")
      .withColumn("hk", Hashing.hashkey(Seq($"bk"))(oldCfg))
      .unionByName(Seq((oldCfg.zeroKey, null), (oldCfg.errorKey, null))
        .toDF("hk", "bk").select($"bk", $"hk"))
    t.append("hub", rows)
    val versionsBefore = t.versions("hub").size
    TxRehash.rehashEntity(t, "hub", "hk", Seq("bk"), oldCfg, newCfg)
    // 4 commits: add, rewrite, rename, rename — only ONE changed data files
    val vs = t.versions("hub")
    assert(vs.size === versionsBefore + 4)
    val fileLists = vs.takeRight(4).map(t.files("hub", _))
    assert(fileLists.distinct.size === 2, "exactly one step rewrites data")
    val out = t.read("hub").select("bk", "hk", "hk_deprecated")
      .as[(Option[String], String, String)].collect().toSet
    // expectations derived from the SAME hashing pipeline a stage load runs
    val exp = Seq("k1", "k2").toDF("bk")
      .withColumn("new_hk", Hashing.hashkey(Seq($"bk"))(newCfg))
      .withColumn("old_hk", Hashing.hashkey(Seq($"bk"))(oldCfg))
      .as[(String, String, String)].collect()
      .map { case (bk, n, o) => (Some(bk): Option[String], n, o) }.toSet ++
      Set((None: Option[String], newCfg.zeroKey, oldCfg.zeroKey),
        (None: Option[String], newCfg.errorKey, oldCfg.errorKey))
    assert(out === exp)
    TxRehash.dropDeprecated(t, "hub", "hk")
    assert(t.read("hub").columns.toSet === Set("bk", "hk"))
    // a second rehash attempt with a lingering _deprecated column is refused
    TxRehash.rehashEntity(t, "hub", "hk", Seq("bk"), newCfg, oldCfg)
    val e = intercept[IllegalArgumentException] {
      TxRehash.rehashEntity(t, "hub", "hk", Seq("bk"), newCfg, oldCfg)
    }
    assert(e.getMessage.contains("_deprecated"))
  }

  test("data skipping: the scan prunes by per-file min/max, stays complete") {
    val (t, _) = freshStore()
    // three disjoint key ranges, one batch (→ file set) each
    t.append("tbl", Seq((1L, "a"), (5L, "b")).toDF("id", "v"))
    t.append("tbl", Seq((100L, "c"), (150L, "d")).toDF("id", "v"))
    t.append("tbl", Seq((1000L, "e")).toDF("id", "v"))
    t.setStatsColumns("tbl", Seq("id")) // backfills all live files
    val v = t.currentVersion("tbl").get
    val (b1, b2, b3) = (t.files("tbl", 1), t.files("tbl", 2).diff(t.files("tbl", 1)),
      t.files("tbl", 3).diff(t.files("tbl", 2)))
    val ranged = t.read("tbl").where($"id".between(100, 200))
    val cand = kept(t, "tbl", ranged)
    assert(b2.forall(cand.contains), "files overlapping the range must remain")
    assert(!b1.exists(cand.contains) && !b3.exists(cand.contains),
      s"disjoint-range files must be pruned: got $cand")
    assert(ranged.as[(Long, String)].collect().toSet === Set((100L, "c"), (150L, "d")))
    assert(t.read("tbl").count() === 5, "full read unaffected")
    assert(t.files("tbl", v).toSet === (b1 ++ b2 ++ b3).toSet)
  }

  test("data skipping: merge probes only files in the source key range") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1L, "a"), (5L, "b")).toDF("id", "v"))
    t.append("tbl", Seq((100L, "c")).toDF("id", "v"))
    t.setStatsColumns("tbl", Seq("id"))
    val farFile = t.files("tbl", 2).diff(t.files("tbl", 1))
    // delta touches only the low range; the high-range file must survive
    // by identity (merge's range pruning never even probes it)
    t.merge("tbl", Seq((5L, "B")).toDF("id", "v"), Seq("id"))
    val after = t.files("tbl", t.currentVersion("tbl").get)
    assert(farFile.forall(after.contains))
    assert(t.read("tbl").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (5L, "B"), (100L, "c")))
    // stats were refreshed for the rewritten batch: a follow-up range read
    // over the low range still finds the updated row
    assert(t.read("tbl").where($"id".between(0, 10)).as[(Long, String)]
      .collect().toSet.contains((5L, "B")))
  }

  test("data skipping: stats survive renames and vanish with dropped columns") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1L, "a")).toDF("id", "v"))
    t.setStatsColumns("tbl", Seq("id"))
    t.renameColumn("tbl", "id", "key")
    assert(kept(t, "tbl", t.read("tbl").where($"key".between(0, 2))).nonEmpty)
    assert(kept(t, "tbl", t.read("tbl").where($"key".between(5, 9))).isEmpty,
      "stats keyed by physical name must keep pruning after a rename")
    t.dropColumn("tbl", "key")
    val v = t.currentVersion("tbl").get
    assert(t.manifest("tbl", v).statsCols.isEmpty && t.manifest("tbl", v).stats.isEmpty,
      "dropping the column drops its stats")
  }

  test("compact bin-packs files in one atomic commit; rows and stats survive") {
    val (t, _) = freshStore()
    (1 to 5).foreach(i => t.append("tbl", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    t.setStatsColumns("tbl", Seq("id"))
    val before = t.read("tbl") // snapshot over the small files
    val (nBefore, nAfter) = t.compact("tbl", targetFiles = 1)
    assert(nBefore >= 5 && nAfter === 1)
    assert(t.read("tbl").as[(Long, String)].collect().toSet ===
      (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    assert(before.as[(Long, String)].collect().size === 5,
      "pre-compact snapshot stays readable")
    // stats were recomputed for the compacted file: range pruning still works
    assert(t.read("tbl").where($"id" === 2L).as[(Long, String)]
      .collect().toSet.contains((2L, "v2")))
    // idempotent: already at target → no-op
    assert(t.compact("tbl", 1) === (1, 1))
  }

  test("clustered compaction makes stats prune to a single file") {
    val (t, _) = freshStore()
    // interleaved keys, one file per append: every file spans the WHOLE key
    // range, so stats alone cannot prune anything
    (0 until 4).foreach(i =>
      t.append("tbl",
        (0 until 25).map(j => (j * 4L + i, s"v$i-$j")).toDF("id", "v").coalesce(1)))
    t.setStatsColumns("tbl", Seq("id"))
    def low = t.read("tbl").where($"id".between(0, 3))
    assert(kept(t, "tbl", low).size ===
      t.files("tbl", t.currentVersion("tbl").get).size,
      "interleaved files all overlap every range")
    // cluster by key into 4 range-disjoint files
    val (_, nAfter) = t.compact("tbl", targetFiles = 4, clusterBy = Seq("id"))
    assert(nAfter === 4)
    val cand = kept(t, "tbl", low)
    assert(cand.size === 1, s"a 4-key range should hit one clustered file, got $cand")
    assert(low.as[(Long, String)].collect().map(_._1).toSet === Set(0L, 1L, 2L, 3L))
    assert(t.read("tbl").count() === 100)
  }

  test("racing appenders: every row lands exactly once, versions stay dense") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((-1L, "seed")).toDF("id", "v"))
    val threads = 4; val perThread = 3
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = (0 until threads).map { tid =>
      new Thread(() => {
        try (0 until perThread).foreach { i =>
          t.append("tbl", Seq((tid * 100L + i, s"t$tid-$i")).toDF("id", "v"))
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    assert(errors.isEmpty, s"appenders must retry through CAS losses: $errors")
    val rows = t.read("tbl").as[(Long, String)].collect()
    val want = Set((-1L, "seed")) ++
      (for (tid <- 0 until threads; i <- 0 until perThread)
        yield (tid * 100L + i, s"t$tid-$i")).toSet
    assert(rows.toSet === want, "no append may be lost")
    assert(rows.length === want.size, "no append may be duplicated")
    // versions are dense 1..N — every commit landed on its own version
    val vs = t.versions("tbl")
    assert(vs === (1L to (threads * perThread + 1)).toSeq)
  }

  test("vacuum reclaims aged orphan batches but spares fresh uncommitted ones") {
    val (t, dir) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    val derivedFrom = t.currentVersion("tbl").get
    t.append("tbl", Seq(2).toDF("id"))
    // a stale overwrite aborts BEFORE writing its batch now — no orphan
    intercept[IllegalArgumentException] {
      t.overwrite("tbl", Seq(9).toDF("id"), expectedVersion = Some(derivedFrom))
    }
    // simulate an aborted writer's leftover batch (crash after write,
    // before commit)
    val orphan = Paths.get(dir, "tbl", "d-orphan")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // fresh orphan survives a vacuum with the default grace…
    t.vacuum("tbl", retainVersions = 2)
    assert(Files.exists(orphan), "a fresh uncommitted batch must survive")
    // …and is reclaimed once past the grace window
    t.vacuum("tbl", retainVersions = 2, orphanGraceMs = 0L)
    assert(!Files.exists(orphan), "an aged orphan batch must be reclaimed")
    assert(t.read("tbl").as[Int].collect().toSet === Set(1, 2))
  }

  test("vacuum drops expired versions and their unreferenced files, keeps the horizon") {
    val (t, dir) = freshStore()
    t.append("tbl", Seq(1).toDF("id"))
    t.overwrite("tbl", Seq(2).toDF("id"))
    t.overwrite("tbl", Seq(3).toDF("id"))
    val v1Files = t.files("tbl", 1)
    t.vacuum("tbl", retainVersions = 2)
    assert(t.versions("tbl") === Seq(2L, 3L))
    assert(v1Files.forall(f => !Files.exists(Paths.get(dir, "tbl", f))),
      "v1's files are unreferenced by the retained horizon and must be gone")
    assert(t.readVersion("tbl", 2).as[Int].collect().toSet === Set(2))
    assert(t.read("tbl").as[Int].collect().toSet === Set(3))
  }

  test("appendOnce: replays skip, markers survive DDL and full refresh") {
    val (t, _) = freshStore()
    assert(t.appendOnce("tbl", Seq(1).toDF("id"), "appA", 0L))
    assert(!t.appendOnce("tbl", Seq(1).toDF("id"), "appA", 0L), "same batch replays")
    assert(t.appendOnce("tbl", Seq(2).toDF("id"), "appA", 1L), "next batch commits")
    assert(!t.appendOnce("tbl", Seq(9).toDF("id"), "appA", 0L), "older batch replays")
    assert(t.appendOnce("tbl", Seq(3).toDF("id"), "appB", 0L),
      "independent appId has its own sequence")
    assert(t.read("tbl").as[Int].collect().sorted === Array(1, 2, 3))
    assert(t.txnVersion("tbl", "appA").contains(1L))
    assert(t.txnVersion("tbl", "appB").contains(0L))
    // markers ride through DDL and a full refresh — a replay arriving
    // after maintenance must still be recognized
    t.renameColumn("tbl", "id", "id2")
    t.overwrite("tbl", Seq(7).toDF("id2"))
    assert(!t.appendOnce("tbl", Seq(1).toDF("id2"), "appA", 1L))
    assert(t.read("tbl").as[Int].collect().toSeq === Seq(7))
  }

  test("appendOnce: appIds that would corrupt the tab-separated manifest are rejected") {
    val (t, _) = freshStore()
    for (bad <- Seq("", "a\tb", "a\nb", "a\rb"))
      intercept[IllegalArgumentException] {
        t.appendOnce("tbl", Seq(1).toDF("id"), bad, 0L)
      }
    assert(!t.exists("tbl"), "a rejected appId must not create the table")
  }

  test("equality deletes: MOR delete touches no data files; re-insert and time travel work") {
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    val v1 = t.currentVersion("tbl").get
    val filesBefore = t.files("tbl", v1)
    val n = t.deleteWhere("tbl", $"id" % 5 === 0, Seq("id"))
    assert(n === 4)
    val v2 = t.currentVersion("tbl").get
    assert(t.files("tbl", v2) === filesBefore,
      "a MOR delete must not touch any data file")
    assert(t.manifest("tbl", v2).edels.size === 1)
    assert(t.read("tbl").as[(Int, String)].collect().map(_._1).toSet ===
      (1 to 20).filter(_ % 5 != 0).toSet)
    assert(t.readVersion("tbl", v1).count() === 20,
      "time travel before the delete must see every row")
    // re-insert one deleted key: the tombstone is scoped to the old files
    t.append("tbl", Seq((5, "back")).toDF("id", "v"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet
      .contains((5, "back")), "a re-inserted deleted key must be visible")
    assert(t.read("tbl").count() === 17)
  }

  test("equality deletes: dropping the key column keeps the deleted rows deleted") {
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhere("tbl", $"id" % 5 === 0, Seq("id"))
    t.dropColumn("tbl", "id")
    val rows = t.read("tbl")
    assert(rows.columns.toSeq === Seq("v"))
    assert(rows.as[String].collect().toSet ===
      (1 to 20).filter(_ % 5 != 0).map(i => s"v$i").toSet)
    assert(t.read("tbl").count() === 16)
  }

  test("equality deletes: building a read over an in-scope delete starts no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 20).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhere("tbl", $"id" % 5 === 0, Seq("id"))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("txlog-read", "build a read")
      val df = try t.read("tbl") finally sc.clearJobGroup()
      // listener events arrive in order: once the sentinel job's start is
      // seen, every job the read could have started has been seen too
      sc.setJobGroup("txlog-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("txlog-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("txlog-sentinel"))
      assert(!groups.contains("txlog-read"),
        "building the read ran a Spark job (delete-file schema inference?)")
      assert(df.as[(Int, String)].collect().map(_._1).toSet === (1 to 20).filter(_ % 5 != 0).toSet)
    } finally sc.removeSparkListener(listener)
  }

  test("deleteWhereKeys: a 100k-key DataFrame forget set, zero driver-side keys") {
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 200000).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val v1 = t.currentVersion("tbl").get
    val filesBefore = t.files("tbl", v1)
    // 100k doomed keys, ~66.7k in-table + ~33.3k NOT in it (a real GDPR batch
    // carries subjects that were already purged): the semi-join must keep
    // the tombstone to keys that exist, and the whole set stays a
    // DataFrame — an isin literal of this size breaks plan compilation
    val doomed = spark.range(1, 300001, 3).select($"id") // 1,4,7,…,299998: 100k keys, ~2/3 in-table
    val n = t.deleteWhereKeys("tbl", doomed, Seq("id"))
    val expected = (1 to 200000).count(i => (i - 1) % 3 == 0)
    assert(n === expected.toLong, s"deleted-key count $n vs $expected")
    val v2 = t.currentVersion("tbl").get
    assert(t.files("tbl", v2) === filesBefore,
      "a MOR delete must not touch any data file")
    assert(t.read("tbl").count() === (200000L - expected))
    assert(t.read("tbl").filter(($"id" - 1) % 3 === 0).count() === 0L)
    // keys can re-insert (tombstone scoped to old files), same as deleteWhere
    t.append("tbl", Seq((1L, "back")).toDF("id", "v"))
    assert(t.read("tbl").filter($"id" === 1L).count() === 1L)
  }

  test("equality deletes survive renames and are materialized by compact") {
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 10).map(i => (i, i * 100)).toDF("id", "cents"))
    t.deleteWhere("tbl", $"id" <= 3, Seq("id"))
    // rename the KEY column after the delete: the tombstone anti-joins on
    // the immutable physical name, so it keeps applying
    t.renameColumn("tbl", "id", "order_id")
    assert(t.read("tbl").select("order_id").as[Int].collect().toSet ===
      (4 to 10).toSet)
    val (before, after) = t.compact("tbl", targetFiles = 1)
    assert(after === 1, s"compact must rewrite ($before -> $after)")
    assert(t.manifest("tbl", t.currentVersion("tbl").get).edels.isEmpty,
      "compact must materialize tombstones away")
    assert(t.read("tbl").select("order_id").as[Int].collect().toSet ===
      (4 to 10).toSet)
  }

  test("merge into a table with pending deletes never resurrects dead rows") {
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhere("tbl", $"id" === 7, Seq("id"))
    // merge touches the file holding id 7 (updates id 1): the rewrite must
    // apply the tombstone, not resurrect row 7
    t.merge("tbl", Seq((1, "updated")).toDF("id", "v"), Seq("id"))
    val got = t.read("tbl").as[(Int, String)].collect().toMap
    assert(!got.contains(7), "merge rewrite must not resurrect a deleted row")
    assert(got(1) === "updated")
  }

  test("vacuum keeps delete files referenced by retained versions") {
    val (t, _) = freshStore()
    t.overwrite("tbl", (1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhere("tbl", $"id" === 2, Seq("id"))
    t.append("tbl", Seq((11, "x")).toDF("id", "v"))
    t.vacuum("tbl", retainVersions = 2, orphanGraceMs = 0L)
    // the delete file is referenced by both retained versions — reads work
    assert(t.read("tbl").as[(Int, String)].collect().map(_._1).toSet ===
      ((1 to 10).toSet - 2 + 11))
    // compact away the tombstone, then vacuum down to 1 version: the
    // delete file is unreferenced and must be reclaimed
    t.compact("tbl", targetFiles = 1)
    // no sleep/backdate needed: vacuum reclaims a batch it just emptied
    // regardless of the dir mtime its own deletions bumped (the r14
    // millisecond-granularity flake)
    t.vacuum("tbl", retainVersions = 1, orphanGraceMs = 0L)
    val root = t.root("tbl")
    val edDirs = Files.list(root).iterator()
    val hasEd = try {
      var found = false
      while (edDirs.hasNext) {
        if (edDirs.next().getFileName.toString.startsWith("ed-")) found = true
      }
      found
    } finally ()
    assert(!hasEd, "an unreferenced delete-file batch must be vacuumed")
    assert(t.read("tbl").as[(Int, String)].collect().map(_._1).toSet ===
      ((1 to 10).toSet - 2 + 11))
  }

  test("bloom skipping: point probes prune files, appends stay candidates, no false negatives") {
    val (t, _) = freshStore()
    // three files with disjoint key thirds, unclustered as far as min/max
    // CANNOT tell (each spans ~the full domain via the modulo split)
    (0 until 3).foreach { b =>
      t.append("tbl", (1 to 300).filter(_ % 3 == b)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    }
    t.setBloomColumn("tbl", "id")
    // every present key must be found in the files its point lookup
    // keeps (the read scans only those)
    def point(k: Int) = t.read("tbl").where($"id" === k)
    Seq(1, 50, 151, 299).foreach { k =>
      assert(kept(t, "tbl", point(k)).nonEmpty, s"key $k must have candidates")
      assert(point(k).count() === 1, s"key $k must be found via its bloom candidates")
    }
    // a file appended AFTER bloom enablement has no bloom: it must remain
    // a candidate for any probe (safe default), and its rows reachable
    t.append("tbl", Seq((9999, "new")).toDF("id", "v"))
    val v2 = t.currentVersion("tbl").get
    assert(point(9999).count() === 1, "a bloom-less appended file must stay a candidate")
    // blooms survive unrelated commits (the append above) for old files
    assert(t.manifest("tbl", v2).blooms.size === 3)
    // deleted rows stay dead even when the bloom still claims their file
    t.deleteWhere("tbl", $"id" === 50, Seq("id"))
    assert(kept(t, "tbl", point(50)).nonEmpty, "the bloom (built pre-delete) still flags the file")
    assert(point(50).count() === 0, "the tombstone must win over the stale bloom")
  }

  test("bloom skipping survives compaction: rewrites re-bloom their output files") {
    val (t, _) = freshStore()
    (0 until 6).foreach { b =>
      t.append("tbl", (1 to 600).filter(_ % 6 == b)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    }
    t.setBloomColumn("tbl", "id")
    // compact replaces EVERY data file — blooms must be rebuilt for the
    // new files in the same commit, or bloomCols advertises skipping that
    // silently returns all files
    val (_, after) = t.compact("tbl", 3, Seq("id"))
    val v = t.currentVersion("tbl").get
    assert(t.manifest("tbl", v).blooms.size === after,
      "every compacted output file must carry a fresh bloom")
    def point(k: Int) = t.read("tbl").where($"id" === k)
    val candAbsent = kept(t, "tbl", point(999999))
    assert(candAbsent.size < after,
      s"an absent key must prune post-compaction, got ${candAbsent.size} of $after")
    Seq(1, 300, 600).foreach { k =>
      assert(point(k).count() === 1, s"key $k must be found via post-compaction bloom candidates")
    }
    // compactZOrder re-blooms too
    val (_, after2) = t.compactZOrder("tbl", 2, Seq("id"))
    val v2 = t.currentVersion("tbl").get
    assert(t.manifest("tbl", v2).blooms.size === after2,
      "z-order rewrite must also re-bloom its output files")
  }

  test("compactZOrder: empty table no-ops; all-NULL dimension degrades, not NPEs") {
    val (t, _) = freshStore()
    t.overwrite("e", Seq((1L, 1L)).toDF("x", "y").filter($"x" > 10))
    assert(t.compactZOrder("e", 4, Seq("x", "y"))._2 ===
      t.files("e", t.currentVersion("e").get).size,
      "empty table: compactZOrder must be a no-op")
    // y entirely NULL: that dimension collapses to one bucket, x still sorts
    val (t2, _) = freshStore()
    t2.overwrite("n",
      (1L to 200L).map(i => (i, None: Option[Long])).toDF("x", "y"))
    val (_, after) = t2.compactZOrder("n", 4, Seq("x", "y"))
    assert(after === 4)
    assert(t2.read("n").count() === 200)
  }

  test("appendEvolve: new columns add as DDL, missing columns null-fill, retypes refuse") {
    val (t, _) = freshStore()
    t.overwrite("tbl", Seq((1, "a")).toDF("id", "v"))
    // wider batch: new column `score` evolves the schema; old rows null-fill
    t.appendEvolve("tbl", Seq((2, "b", 0.5)).toDF("id", "v", "score"))
    // narrower batch: missing `v` and `score` null-fill the new rows
    t.appendEvolve("tbl", Seq(Tuple1(3)).toDF("id"))
    val got = t.read("tbl").select("id", "v", "score")
      .collect().map(r => (r.getInt(0),
        Option(r.getString(1)), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSet
    assert(got === Set((1, Some("a"), None), (2, Some("b"), Some(0.5)),
      (3, None, None)))
    intercept[IllegalArgumentException] {
      t.appendEvolve("tbl", Seq((4, 99)).toDF("id", "v")) // v: string → int
    }
  }

  test("CHECK constraints: refuse-if-violated-now, enforce on append/overwrite/merge, NULL = violation") {
    val (t, _) = freshStore()
    t.overwrite("tbl", Seq((1, 10.0), (2, 20.0)).toDF("id", "bal"))
    // existing data violates → refused with the table untouched
    intercept[IllegalArgumentException] {
      t.addCheckConstraint("tbl", "bal_big", "bal >= 15")
    }
    assert(t.manifest("tbl", t.currentVersion("tbl").get).checks.isEmpty)
    t.addCheckConstraint("tbl", "bal_pos", "bal >= 0")
    // clean append passes; violating append rejects atomically
    t.append("tbl", Seq((3, 5.0)).toDF("id", "bal"))
    intercept[IllegalArgumentException] {
      t.append("tbl", Seq((4, -1.0)).toDF("id", "bal"))
    }
    assert(t.read("tbl").count() === 3)
    // NULL predicate result is a violation, not a pass
    intercept[IllegalArgumentException] {
      t.append("tbl", Seq((5, null.asInstanceOf[java.lang.Double]))
        .toDF("id", "bal"))
    }
    // merge source enforced; constraint survives overwrite and still
    // gates the replacement rows
    intercept[IllegalArgumentException] {
      t.merge("tbl", Seq((1, -9.0)).toDF("id", "bal"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      t.overwrite("tbl", Seq((9, -2.0)).toDF("id", "bal"))
    }
    t.overwrite("tbl", Seq((9, 2.0)).toDF("id", "bal"))
    assert(t.manifest("tbl", t.currentVersion("tbl").get).checks
      .contains("bal_pos"), "constraints survive a full refresh")
    t.dropCheckConstraint("tbl", "bal_pos")
    t.append("tbl", Seq((4, -1.0)).toDF("id", "bal")) // now legal
    assert(t.read("tbl").count() === 2)
  }

  test("appendClustered: one job lays out one-cluster-value-per-file; stats prune to a single file") {
    val (t, _) = freshStore()
    val df = (0 until 400).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    t.appendClustered("tbl", df,
      org.apache.spark.sql.functions.expr("id DIV 100"), 4)
    val v = t.currentVersion("tbl").get
    val fs = t.files("tbl", v)
    assert(fs.size === 4, s"expected 4 one-bucket files, got $fs")
    // each file holds exactly one id-range bucket
    val buckets = t.read("tbl").selectExpr("input_file_name() AS f", "id DIV 100 AS b")
      .distinct().groupBy("f").count().as[(String, Long)].collect()
    assert(buckets.length === 4 && buckets.forall(_._2 == 1),
      s"files span several buckets: ${buckets.toSeq}")
    // read-back is the full input, __cluster never surfaces
    assert(t.read("tbl").columns.toSeq === Seq("id", "v"))
    assert(t.read("tbl").count() === 400)
    // per-file min/max stats over the clustered layout prune point probes
    t.setStatsColumns("tbl", Seq("id"))
    assert(kept(t, "tbl", t.read("tbl").where($"id" === 8L)).size === 1,
      "a point probe on the cluster key must prune to one file")
    // a later plain append composes (mixed flat + clustered batches)
    t.append("tbl", Seq((1000L, "x")).toDF("id", "v"))
    assert(t.read("tbl").count() === 401)
  }

  test("compactZOrder: both dimensions prune; lexicographic clusterBy only the leading one") {
    import org.apache.spark.sql.functions.col
    val grid = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64))
    def probeCounts(t: TxLogTable, tbl: String): (Int, Int) = (
      kept(t, tbl, t.read(tbl).where(col("x").between(0, 7))).size,
      kept(t, tbl, t.read(tbl).where(col("y").between(0, 7))).size)

    val (tz, _) = freshStore()
    tz.overwrite("g", grid.toDF("x", "y"))
    val (before, after) = tz.compactZOrder("g", 16, Seq("x", "y"))
    tz.setStatsColumns("g", Seq("x", "y"))
    assert(after === 16, s"expected 16 z-files, got $after (before=$before)")
    val (zx, zy) = probeCounts(tz, "g")
    assert(zx < 16 && zy < 16,
      s"z-order must prune BOTH dimensions, got x=$zx y=$zy of 16")
    // rewrite preserves contents
    assert(tz.read("g").as[(Long, Long)].collect().toSet === grid.toSet)

    val (tl, _) = freshStore()
    tl.overwrite("g", grid.toDF("x", "y"))
    tl.compact("g", 16, Seq("x", "y"))
    tl.setStatsColumns("g", Seq("x", "y"))
    val (lx, ly) = probeCounts(tl, "g")
    assert(lx < 16, s"lexicographic prunes the leading column, got $lx")
    assert(ly === 16,
      s"lexicographic must NOT prune the trailing column, got $ly of 16")
    assert(zy < ly, "z-order beats lexicographic on the second dimension")
  }

  test("compactZOrder: layout is run-invariant — 5 rewrites of the same data, identical files") {
    // Regression guard for the r12 gate flake: repartitionByRange samples
    // its boundaries (seed varies with the RDD id), so the old plan could
    // pack z-quadrants differently across runs and flip pruning counts.
    // The exact-histogram + representative-key route must yield the SAME
    // per-file [min,max] stats and candidate counts on every run.
    import org.apache.spark.sql.functions.{col, hash, pmod, lit}
    val rows = (0 until 5000).map(i =>
      ((i * 2654435761L) % 1024, (i * 40503L) % 1024)) // decorrelated dims
    def layout(): (Seq[Int], Int, Int) = {
      val (t, _) = freshStore()
      t.appendClustered("z", rows.toDF("x", "y"),
        pmod(hash(col("x"), col("y")), lit(4)), 4)
      t.setStatsColumns("z", Seq("x", "y"))
      val (_, after) = t.compactZOrder("z", 16, Seq("x", "y"))
      t.setStatsColumns("z", Seq("x", "y"))
      assert(after === 16)
      // layout fingerprint: kept-file counts over a sweep of probe slabs
      // on both dimensions (planning only — no Spark jobs). File names
      // are UUIDs, so counts are the cross-store-comparable signal.
      def probe(c: String, lo: Int, hi: Int): Int =
        kept(t, "z", t.read("z").where(col(c).between(lo, hi))).size
      val sweep = (0 until 16).flatMap { s =>
        val (lo, hi) = (s * 64, s * 64 + 63)
        Seq(probe("x", lo, hi), probe("y", lo, hi))
      }
      (sweep, probe("x", 100, 120), probe("y", 100, 120))
    }
    val first = layout()
    (1 to 4).foreach { i =>
      assert(layout() === first, s"run $i produced a different z-layout")
    }
    assert(first._2 <= 8 && first._3 <= 8,
      s"z-order must prune both dims to ≤ half the files, got ${(first._2, first._3)}")
  }

  test("restore: metadata-only undo — old head re-committed, history intact, writes continue") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "good"), (2, "good")).toDF("id", "v"))   // v1
    t.overwrite("tbl", Seq((9, "corrupt")).toDF("id", "v"))          // v2
    t.restore("tbl", 1L)                                             // v3 == v1
    assert(t.currentVersion("tbl").contains(3L))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "good"), (2, "good")))
    // the bad version stays time-travelable (history preserved, not erased)
    assert(t.readVersion("tbl", 2L).as[(Int, String)].collect().toSet ===
      Set((9, "corrupt")))
    // life goes on from the restored state
    t.append("tbl", Seq((3, "new")).toDF("id", "v"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "good"), (2, "good"), (3, "new")))
    // restore FORWARD to the corrupt version also works (any retained v)
    t.restore("tbl", 2L)
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((9, "corrupt")))
    // vacuum keeps the head's (restored) files live
    t.restore("tbl", 4L)
    t.vacuum("tbl", retainVersions = 1, orphanGraceMs = 0L)
    assert(t.read("tbl").as[(Int, String)].collect().toSet ===
      Set((1, "good"), (2, "good"), (3, "new")))
    intercept[IllegalArgumentException](t.restore("tbl", 99L))
  }

  test("registerViews: snapshot semantics — a view pins its version until re-registered") {
    val (t, _) = freshStore()
    t.append("a", Seq(1).toDF("id"))
    t.append("b", Seq(10).toDF("id"))
    assert(t.tables === Seq("a", "b"))
    t.registerViews("tx_")
    t.append("a", Seq(2).toDF("id"))
    assert(spark.sql("SELECT id FROM tx_a").as[Int].collect().toSet === Set(1),
      "a registered view must keep its snapshot across later commits")
    t.registerViews("tx_")
    assert(spark.sql("SELECT id FROM tx_a").as[Int].collect().toSet === Set(1, 2))
    assert(spark.sql("SELECT id FROM tx_b").as[Int].collect().toSet === Set(10))
  }

  test("sqlScan: equality deletes stay delete-time-scoped through the SQL view") {
    val (t, _) = freshStore()
    t.append("tbl", (1 to 10).map(i => (i, s"v$i")).toDF("id", "v"))
    t.deleteWhere("tbl", org.apache.spark.sql.functions.col("id") <= 3, Seq("id"))
    // re-insert a deleted key AFTER the delete — must be visible: the
    // tombstone is scoped to the files live at delete time
    t.append("tbl", Seq((2, "again")).toDF("id", "v"))
    t.registerViews("sq_")
    val got = spark.sql("SELECT id, v FROM sq_tbl").as[(Int, String)].collect().toSet
    val want = (4 to 10).map(i => (i, s"v$i")).toSet + ((2, "again"))
    assert(got === want)
    // and the skipping path agrees with the plain snapshot read everywhere
    assert(t.read("tbl").as[(Int, String)].collect().toSet === want)
  }

  test("sqlScan: pushed point/range predicates return exact rows under DDL renames") {
    val (t, _) = freshStore()
    t.append("tbl", (1 to 50).map(i => (i.toLong, s"n$i")).toDF("k", "nm"))
    t.append("tbl", (51 to 100).map(i => (i.toLong, s"n$i")).toDF("k", "nm"))
    t.setStatsColumns("tbl", Seq("k"))
    t.setBloomColumn("tbl", "nm")
    t.renameColumn("tbl", "nm", "name")
    // stats + blooms survive the rename (physical-keyed) and the view
    // exposes the new logical name
    t.registerViews("pq_")
    assert(spark.sql("SELECT name FROM pq_tbl WHERE k = 7").as[String].collect()
      .toSeq === Seq("n7"))
    assert(spark.sql("SELECT count(*) FROM pq_tbl WHERE k > 50 AND k <= 60")
      .as[Long].head() === 10L)
    assert(spark.sql("SELECT k FROM pq_tbl WHERE name = 'n99'").as[Long].collect()
      .toSeq === Seq(99L))
  }

  test("sqlScan pruning is sound under random predicates (seeded sweep)") {
    import org.apache.spark.sql.functions.{col => fc}
    val r = new scala.util.Random(47)
    val (t, _) = freshStore()
    val written = Seq.newBuilder[(java.lang.Long, String, Int)]
    // 6 appended batches, skewed key ranges with overlap + some all-NULL
    // stretches; stats on k, bloom on tag
    (0 until 6).foreach { b =>
      val lo = b * 80 + r.nextInt(40)
      val rows = (0 until 60).map { i =>
        val k: java.lang.Long = if (r.nextInt(10) == 0) null else (lo + i).toLong
        (k, s"t${r.nextInt(25)}", b)
      }
      written ++= rows
      t.append("tbl", rows.toDF("k", "tag", "b"))
    }
    t.setStatsColumns("tbl", Seq("k"))
    t.setBloomColumn("tbl", "tag")
    t.deleteWhere("tbl", fc("b") === 2 && fc("k") % 3 === 0, Seq("k", "tag"))
    t.registerViews("rp_")
    // the reference: the unfiltered read (no pushed filter, so no file is
    // skipped) as a local relation, first checked against the model — the
    // written rows minus every row whose (k, tag) a delete named (a NULL k
    // is never deleted)
    val all = t.read("tbl")
    val plain = spark.createDataFrame(java.util.Arrays.asList(all.collect(): _*), all.schema)
    val deleted = written.result().collect {
      case (k, tag, 2) if k != null && k % 3 == 0 => (k, tag)
    }.toSet
    val model = written.result().filterNot { case (k, tag, _) => deleted((k, tag)) }
      .map { case (k, tag, b) => org.apache.spark.sql.Row(k, tag, b).toString }.sorted
    assert(plain.collect().map(_.toString).sorted.toSeq === model)
    for (iter <- 1 to 25) {
      val pred = r.nextInt(6) match {
        case 0 => s"k = ${r.nextInt(520)}"
        case 1 => s"k > ${r.nextInt(400)} AND k <= ${400 + r.nextInt(200)}"
        case 2 => s"tag = 't${r.nextInt(25)}'"
        case 3 => s"k IN (${Seq.fill(3)(r.nextInt(520)).mkString(", ")})"
        case 4 => s"k < ${r.nextInt(200)} OR tag = 't${r.nextInt(25)}'"
        case 5 => s"tag LIKE 't${r.nextInt(3)}%'"
      }
      val got = spark.sql(s"SELECT k, tag, b FROM rp_tbl WHERE $pred")
        .collect().map(_.toString).sorted.toSeq
      val want = plain.filter(pred).select("k", "tag", "b")
        .collect().map(_.toString).sorted.toSeq
      assert(got === want, s"iter $iter: pruning dropped rows for [$pred]")
    }
  }

  test("DDL carries blooms and CHECK constraints through (physical-keyed)") {
    val (t, _) = freshStore()
    t.append("tbl", (1 to 20).map(i => (i, s"x$i")).toDF("id", "v"))
    t.setBloomColumn("tbl", "v")
    t.addCheckConstraint("tbl", "id_pos", "id > 0")
    t.addColumn("tbl", "extra", "int")
    val v = t.currentVersion("tbl").get
    assert(t.manifest("tbl", v).bloomCols.nonEmpty,
      "add-column DDL must not shed bloom metadata")
    assert(t.manifest("tbl", v).checks.contains("id_pos"),
      "add-column DDL must not shed CHECK constraints")
    intercept[IllegalArgumentException] {
      t.append("tbl", Seq((-1, "bad", 0)).toDF("id", "v", "extra"))
    }
  }

  test("merge contract: a duplicate-key source is rejected, an empty source commits nothing") {
    val (t, _) = freshStore()
    t.append("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val v = t.currentVersion("tbl")
    val dup = Seq((1, "x"), (1, "y")).toDF("id", "v")
    val e = intercept[IllegalArgumentException](t.merge("tbl", dup, Seq("id")))
    assert(e.getMessage === intercept[IllegalArgumentException](
      graft.sources.MergeClauses.sourcePrecheck(dup, Seq("id"))).getMessage)
    assert(t.currentVersion("tbl") === v)
    t.merge("tbl", Seq.empty[(Int, String)].toDF("id", "v"), Seq("id"))
    assert(t.currentVersion("tbl") === v, "an empty source adds no version")
    assert(t.read("tbl").as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("escaped cluster paths: merge, blooms and the PIT cleaner find their files") {
    import org.apache.spark.sql.functions.{col, when}
    val (t, _) = freshStore()
    // ':' in a cluster value is escaped in the directory name (x%3A1), and
    // the scan reports that name escaped once more (x%253A1)
    t.appendClustered("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"),
      when(col("id") === 1, "x:1").otherwise("y:2"), 2)
    val v = t.currentVersion("tbl").get
    assert(t.files("tbl", v).exists(_.contains("__cluster=x%3A1/")))
    t.setBloomColumn("tbl", "v")
    assert(kept(t, "tbl", t.read("tbl").where(col("v") === "a")) ===
      t.files("tbl", v).filter(_.contains("__cluster=x%3A1/")))
    t.merge("tbl", Seq((1, "A")).toDF("id", "v"), Seq("id"))
    assert(t.read("tbl").as[(Int, String)].collect().toSet === Set((1, "A"), (2, "b")))

    // a PIT clustered by its timestamp: every file sits under an escaped
    // `__cluster=2024-01-0N 00%3A00%3A00` directory
    val pit = Seq(("h1", "2024-01-01"), ("h2", "2024-01-01"), ("h1", "2024-01-02"),
      ("h2", "2024-01-03")).toDF("hk", "d").select(col("hk"), col("d").cast("timestamp").as("sdts"))
    t.appendClustered("pit", pit, col("sdts"), 3)
    t.overwrite("snap", Seq(("2024-01-01", true), ("2024-01-02", false), ("2024-01-03", true))
      .toDF("d", "is_active").select(col("d").cast("timestamp").as("sdts"), col("is_active")))
    assert(TxPitCleaner.cleanUp(t, "pit", "snap") === ((1, 3)))
    assert(t.read("pit").selectExpr("hk", "CAST(sdts AS DATE) AS d").as[(String, java.sql.Date)]
      .collect().map { case (h, d) => (h, d.toString) }.toSet ===
      Set(("h1", "2024-01-01"), ("h2", "2024-01-01"), ("h2", "2024-01-03")))
  }

  test("overwrite keeps the bloom columns its schema still carries and blooms the new files") {
    val (t, _) = freshStore()
    t.append("tbl", (1 to 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.setBloomColumn("tbl", "id")
    t.overwrite("tbl", (101 to 300).map(i => (i, s"w$i")).toDF("id", "v").repartition(2))
    val m = t.manifest("tbl", t.currentVersion("tbl").get)
    assert(m.bloomCols.keySet === Set("id"))
    assert(m.blooms.keySet === m.files.map(_ -> "id").toSet)
    def point(k: Int) = t.read("tbl").where($"id" === k)
    assert(kept(t, "tbl", point(999999)).isEmpty, "an absent key must prune after overwrite")
    assert(point(150).count() === 1)
  }

  // ---- the manifest codec ------------------------------------------------
  private val genName: Gen[String] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.alphaLowerChar)).map(_.mkString)

  /** a stats value as the JSON reader returns it: ints, longs past the
    * int range, exact two-place decimals, strings and booleans */
  private val genStatValue: Gen[com.fasterxml.jackson.databind.JsonNode] = {
    import com.fasterxml.jackson.databind.node.{BooleanNode, DecimalNode, IntNode, LongNode, TextNode}
    Gen.oneOf(
      Gen.choose(-1000, 1000).map(IntNode.valueOf),
      Gen.choose(Int.MaxValue.toLong + 1, Long.MaxValue).map(LongNode.valueOf),
      for (a <- Gen.choose(-9999L, 9999L); d <- Gen.choose(1L, 9L))
        yield DecimalNode.valueOf(java.math.BigDecimal.valueOf(a * 10 + d, 2)),
      genName.map(TextNode.valueOf),
      Gen.oneOf(true, false).map(BooleanNode.valueOf))
  }

  private val genStats: Gen[FileStats] = for {
    n <- Gen.choose(0L, 1000000L)
    cs <- Gen.listOfN(3, genName).map(_.distinct)
    mn <- Gen.listOfN(cs.size, genStatValue)
    mx <- Gen.listOfN(cs.size, genStatValue)
    nulls <- Gen.listOfN(cs.size, Gen.choose(0L, n))
  } yield FileStats(n, cs.zip(mn).toMap, cs.zip(mx).toMap, cs.zip(nulls).toMap)

  private val genKeyType = Gen.oneOf("int", "bigint", "string", "decimal(10,2)", "date",
    "timestamp", "timestamp_ntz")

  /** a manifest whose per-file entries name live files only, the values
    * every writer commits */
  private val genManifest: Gen[Manifest] = for {
    files <- Gen.listOf(genName).map(_.distinct.zipWithIndex.map { case (b, i) =>
      s"d-$b/part-$i.parquet" })
    cols <- Gen.nonEmptyListOf(for (p <- genName; l <- genName;
      ty <- Gen.oneOf("int", "string", "decimal(12,4)", "array<string>",
        "struct<a:int,b:string>", "map<string,bigint>")) yield ColMap(p, l, ty))
    statsCols <- Gen.listOf(genName)
    statFiles <- Gen.someOf(files)
    stats <- Gen.listOfN(statFiles.size, genStats)
    txns <- Gen.mapOf(Gen.zip(genName, Gen.choose(0L, Long.MaxValue)))
    edels <- Gen.listOf(for {
      f <- genName
      keys <- Gen.nonEmptyListOf(Gen.zip(genName, genKeyType))
      scope <- Gen.atLeastOne(if (files.isEmpty) Seq("d-x/part-0.parquet") else files)
      rows <- Gen.choose(0L, 1000L)
    } yield EqDelete(s"ed-$f/part-0.parquet", StructType.fromDDL(keys.toMap.map {
      case (k, ty) => s"k_$k $ty" }.mkString(",")), scope.toSet, rows))
    bloomCols <- Gen.mapOf(Gen.zip(genName, Gen.choose(1024, 1 << 20)))
    bloomFiles <- Gen.someOf(for (f <- files; c <- bloomCols.keys) yield (f, c))
    bits <- Gen.listOfN(bloomFiles.size, Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(b => java.util.Base64.getEncoder.encodeToString(b.toArray)))
    checks <- Gen.mapOf(Gen.zip(genName, genName.map(c => s"$c > 0 AND $c IS NOT NULL")))
  } yield Manifest(files, cols, statsCols, statFiles.toSeq.zip(stats).toMap, txns,
    if (files.isEmpty) Nil else edels, bloomCols, bloomFiles.toSeq.zip(bits).toMap, checks)

  test("manifest codec: parse(lines) gives back every generated manifest") {
    val params = Test.Parameters.default.withMinSuccessfulTests(300)
      .withWorkers(1).withInitialSeed(Seed(15L))
    val result = Test.check(params, Prop.forAllNoShrink(genManifest)(m =>
      Manifest.parse(m.lines) == m))
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }

  test("manifest codec: an #edel line without key types takes them from the mapping") {
    val m = Manifest.parse(Seq("#col\tid\tkey\tbigint", "#col\ts\tname\tstring",
      "#edel\ted-a/part-0.parquet\tid,s\td-a/part-0.parquet\t2", "d-a/part-0.parquet"))
    assert(m.edels === Seq(EqDelete("ed-a/part-0.parquet",
      StructType.fromDDL("id BIGINT, s STRING"), Set("d-a/part-0.parquet"), 2L)))
    assert(Manifest.parse(m.lines) === m)
  }

  test("manifest codec: every committed manifest is a fixed point of parse then lines") {
    val (t, dir) = freshStore()
    val kinds = scala.collection.mutable.Set[String]()
    def step(what: String)(op: => Any): Unit = {
      op
      val v = t.currentVersion("tbl").get
      val lines = Files.readAllLines(Paths.get(dir, "tbl", "_log", f"v$v%08d.manifest"))
        .toArray.toSeq.map(_.toString)
      assert(Manifest.parse(lines).lines === lines, s"after $what (v$v)")
      kinds ++= lines.map(l => if (l.startsWith("#")) l.takeWhile(_ != '\t') else "file")
    }
    def rows(r: Range) = r.map(i => (i.toLong, s"s$i", i % 3)).toDF("id", "s", "g").coalesce(1)
    step("append")(t.append("tbl", rows(1 to 10)))
    step("setStatsColumns")(t.setStatsColumns("tbl", Seq("id", "s")))
    step("append with stats")(t.append("tbl", rows(11 to 20)))
    step("appendOnce")(t.appendOnce("tbl", rows(21 to 25), "app", 0L))
    step("deleteWhere")(t.deleteWhere("tbl", $"id" === 3L, Seq("id")))
    step("setBloomColumn")(t.setBloomColumn("tbl", "s"))
    step("addCheckConstraint")(t.addCheckConstraint("tbl", "id_pos", "id > 0"))
    val beforeDdl = t.currentVersion("tbl").get
    step("renameColumn")(t.renameColumn("tbl", "s", "name"))
    step("dropColumn")(t.dropColumn("tbl", "g"))
    step("compact")(t.compact("tbl", 2, Seq("id")))
    step("restore")(t.restore("tbl", beforeDdl))
    assert(kinds === Set("file", "#col", "#statscol", "#fstat", "#txn", "#edel", "#check",
      "#bloomcol", "#fbloom"))
  }
}
