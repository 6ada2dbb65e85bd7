package graft.loaders

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.HashConfig
import graft.runtime.{TxLogTable, TxPitCleaner, TxRehash}

/** Loader behavior on micro-fixtures (FIXTURES.md §3) plus the global
  * invariants (§4): idempotence, batch-split ≡ full-load equivalence, and
  * the soft-constraint tests the reference documents
  * (`docs/26_general-usage-notes/40_testing-a-data-vault.md:47-71`).
  */
class LoaderSpec extends SparkSpec {
  implicit val hc: HashConfig = HashConfig()
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** 3 batches of one key: value A → A → B (LAG-dedup fixture) */
  private def aabSource: DataFrame = Seq(
    ("k1", "2024-01-01 00:00:00", "A"),
    ("k1", "2024-01-02 00:00:00", "A"),
    ("k1", "2024-01-03 00:00:00", "B"),
    ("k2", "2024-01-01 00:00:00", "X")
  ).toDF("bk", "ldts_s", "payload")
    .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
    .withColumn("rsrc", lit("TEST"))
    .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))
    .withColumn("hd", graft.expr.Hashing.hashdiff(Seq($"payload")))

  test("BINARY hash config end-to-end: stage ghosts -> hub -> sat carry byte keys") {
    val bin = HashConfig(hashDatatype = "BINARY")
    val src = Seq((1L, "alice"), (2L, "bob")).toDF("k", "name")
    val staged = StageLoader.build(src, StageConfig(
      ldts = "!2024-01-01 00:00:00", rsrc = "!TEST",
      hashedColumns = Seq(
        HashColumnSpec("hk", Seq("k")),
        HashColumnSpec("hd", Seq("name"), isHashdiff = true)),
      enableGhostRecords = true))(bin)
    assert(staged.schema("hk").dataType === org.apache.spark.sql.types.BinaryType)
    assert(staged.count() === 4, "2 rows + 2 ghosts")
    val ghosts = staged.filter(col("rsrc") =!= "TEST")
      .select("hk").collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
    assert(ghosts === Set(bin.zeroKeyBytes.toSeq, bin.errorKeyBytes.toSeq),
      "ghost hash columns carry the byte sentinels")
    // hub + sat dedup/anti-join work on binary keys unchanged
    val hub = HubLoader.records(
      Seq(EntitySource(staged, Some("hk"), Seq("k"))), "hk", Seq("k"), None)
    assert(hub.count() === 4)
    val replay = HubLoader.records(
      Seq(EntitySource(staged, Some("hk"), Seq("k"))), "hk", Seq("k"), Some(hub))
    assert(replay.count() === 0, "binary-key anti-join idempotence")
    val sat = SatV0Loader.records(staged, Seq("hk"), Some("hd"), Seq("name"), None)
    assert(sat.count() === 4)
  }

  test("sat v0 keeps intermediate changes, drops consecutive duplicates") {
    val out = SatV0Loader.records(aabSource, Seq("hk"), Some("hd"), Seq("payload"), None)
    val rows = out.select("payload", "ldts").collect().map(r => (r.getString(0), r.getTimestamp(1).toString)).toSet
    assert(rows == Set(("A", "2024-01-01 00:00:00.0"), ("B", "2024-01-03 00:00:00.0"),
      ("X", "2024-01-01 00:00:00.0")))
  }

  test("sat v0 incremental: batch-split equals full load (multi-batch replay)") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    // full load in one go
    val full = SatV0Loader.records(aabSource, Seq("hk"), Some("hd"), Seq("payload"), None)
    // split: batch 1+2 first, then batch 3
    val b12 = aabSource.filter($"ldts" <= ts("2024-01-02 00:00:00"))
    store.append("s", SatV0Loader.records(b12, Seq("hk"), Some("hd"), Seq("payload"), None))
    val b3 = aabSource // loader's HWM filter must ignore already-loaded rows
    store.append("s", SatV0Loader.records(b3, Seq("hk"), Some("hd"), Seq("payload"),
      Some(store.read("s"))))
    val split = store.read("s")
    assert(split.count() == full.count())
    assert(split.exceptAll(full).isEmpty && full.exceptAll(split).isEmpty)
  }

  test("sat v0 idempotence: replaying the same batch inserts zero rows") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    store.append("s", SatV0Loader.records(aabSource, Seq("hk"), Some("hd"), Seq("payload"), None))
    val again = SatV0Loader.records(aabSource, Seq("hk"), Some("hd"), Seq("payload"),
      Some(store.read("s")))
    assert(again.count() == 0)
  }

  test("hub: (hashkey unique + not null) invariant and earliest-ldts wins") {
    val hub = HubLoader.records(
      Seq(EntitySource(aabSource, Some("hk"), Seq("bk"))), "hk", Seq("bk"), None)
    assert(hub.count() == 2)
    assert(hub.filter($"hk".isNull).count() == 0)
    assert(hub.groupBy("hk").count().filter($"count" > 1).count() == 0)
    // earliest ldts kept
    assert(hub.agg(max("ldts")).head().getTimestamp(0) == ts("2024-01-01 00:00:00"))
  }

  test("hub incremental with two sources: positional bk mapping, no dup keys") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val src2 = Seq(("k2", "2024-01-05 00:00:00", "zzz"), ("k3", "2024-01-05 00:00:00", "yyy"))
      .toDF("other_name", "ldts_s", "junk")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST2"))
      .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"other_name")))
    store.append("h", HubLoader.records(
      Seq(EntitySource(aabSource, Some("hk"), Seq("bk"))), "hk", Seq("bk"), None))
    val delta = HubLoader.records(
      Seq(EntitySource(src2, Some("hk"), Seq("other_name"))), "hk", Seq("bk"),
      Some(store.read("h")))
    // k2 already exists -> only k3 inserted, renamed positionally to bk
    assert(delta.count() == 1)
    assert(delta.head().getAs[String]("bk") == "k3")
  }

  test("multi-source hub incremental pushes the HWM into BOTH parquet scans") {
    val wh = Files.createTempDirectory("graft_hwm").toString
    def staged(tag: String, keys: Seq[(String, String)]): DataFrame =
      keys.toDF("bk", "ldts_s")
        .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
        .withColumn("rsrc", lit(tag))
        .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))
    staged("A", Seq(("a1", "2024-01-01 00:00:00"), ("a2", "2024-01-03 00:00:00")))
      .write.parquet(s"$wh/src_a")
    staged("B", Seq(("b1", "2024-01-01 00:00:00"), ("b2", "2024-01-03 00:00:00")))
      .write.parquet(s"$wh/src_b")
    val srcA = spark.read.parquet(s"$wh/src_a")
    val srcB = spark.read.parquet(s"$wh/src_b")
    val target = staged("A", Seq(("a1", "2024-01-01 00:00:00")))
      .unionByName(staged("B", Seq(("b1", "2024-01-01 00:00:00"))))
    val delta = HubLoader.records(
      Seq(EntitySource(srcA, Some("hk"), Seq("bk")),
        EntitySource(srcB, Some("hk"), Seq("bk"))),
      "hk", Seq("bk"), Some(target))
    // only the two post-HWM keys come through
    assert(delta.select("bk").as[String].collect().toSet == Set("a2", "b2"))
    // and the ldts > hwm predicate reached BOTH parquet scans
    val plan = delta.queryExecution.executedPlan.toString
    val pushed = "GreaterThan\\(ldts".r.findAllIn(plan).size
    assert(pushed >= 2, s"expected pushed-down ldts filters on both scans; plan:\n$plan")
  }

  test("a two-source hub's incremental build probes the target's HWM once") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val store = new TxLogTable(spark, Files.createTempDirectory("graft_hwm_once").toString)
    store.append("h", HubLoader.records(
      Seq(EntitySource(aabSource, Some("hk"), Seq("bk"))), "hk", Seq("bk"), None))
    val target = store.read("h")
    def src(k: String): EntitySource = EntitySource(Seq((k, "2024-02-01 00:00:00"))
      .toDF("bk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST")).withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk"))),
      Some("hk"), Seq("bk"))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // the eager jobs of building (not running) a hub delta over `sources`
    def buildJobs(group: String, sources: Seq[EntitySource]): DataFrame = {
      sc.setJobGroup(group, group)
      try HubLoader.records(sources, "hk", Seq("bk"), Some(target)) finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      buildJobs("hwm-one", Seq(src("n1")))
      val delta = buildJobs("hwm-two", Seq(src("n1"), src("n2")))
      // listener events arrive in order: once the sentinel's start is seen,
      // every job the builds started has been seen too
      sc.setJobGroup("hwm-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("hwm-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      def jobs(g: String) = groups.toArray.count(_ == g)
      assert(jobs("hwm-one") > 0, "the one-source build probes the HWM")
      assert(jobs("hwm-two") === jobs("hwm-one"),
        "a second source must not repeat the target's max(ldts) probe")
      assert(delta.select("bk").as[String].collect().toSet === Set("n1", "n2"))
    } finally sc.removeSparkListener(listener)
  }

  test("sat v1 ledts chain: contiguous, ends at end-of-all-times") {
    val v0 = SatV0Loader.records(aabSource, Seq("hk"), Some("hd"), Seq("payload"), None)
    val v1 = SatV1Loader.build(v0, "hk", Some("hd"), addIsCurrentFlag = true)
    val k1 = v1.filter($"payload".isin("A", "B")).orderBy("ldts").collect()
    assert(k1(0).getAs[java.sql.Timestamp]("ledts").toString == "2024-01-02 23:59:59.999999")
    assert(k1(1).getAs[java.sql.Timestamp]("ledts").toString == "8888-12-31 23:59:59.0")
    assert(!k1(0).getAs[Boolean]("is_current") && k1(1).getAs[Boolean]("is_current"))
  }

  test("eff sat multi-batch: present 1,2,4 of 4 batches → active/inactive/active") {
    val src = Seq(
      ("k1", "2024-01-01 00:00:00"), ("k1", "2024-01-02 00:00:00"), ("k1", "2024-01-04 00:00:00"),
      ("k2", "2024-01-01 00:00:00"), ("k2", "2024-01-02 00:00:00"),
      ("k2", "2024-01-03 00:00:00"), ("k2", "2024-01-04 00:00:00"))
      .toDF("hk", "ldts_s")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    val out = EffSatLoader.records(src, "hk", None)
    val k1 = out.filter($"hk" === "k1").orderBy("ldts")
      .select("ldts", "is_active").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getBoolean(1))).toSeq
    assert(k1 == Seq(("2024-01-01", true), ("2024-01-03", false), ("2024-01-04", true)))
    // k2 continuously present -> single activation row
    assert(out.filter($"hk" === "k2").count() == 1)
  }

  test("eff sat incremental: disappeared key gets SYSTEM deactivation row") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val b1 = Seq(("k1", "2024-01-01 00:00:00"), ("k2", "2024-01-01 00:00:00"))
      .toDF("hk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    store.append("e", EffSatLoader.records(b1, "hk", None))
    // batch 2: k2 disappears
    val b2 = Seq(("k1", "2024-01-02 00:00:00"))
      .toDF("hk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    val delta = EffSatLoader.records(b2, "hk", Some(store.read("e")))
    val k2 = delta.filter($"hk" === "k2").collect()
    assert(k2.length == 1 && !k2(0).getAs[Boolean]("is_active")
      && k2(0).getAs[String]("rsrc") == "SYSTEM")
    // k1 still active, unchanged status -> no new row
    assert(delta.filter($"hk" === "k1").count() == 0)
  }

  test("eff sat incremental multi-batch: brand-new key gets its activation row") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val b1 = Seq(("k1", "2024-01-01 00:00:00"))
      .toDF("hk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    store.append("e", EffSatLoader.records(b1, "hk", None))
    // multi-batch delta introduces k3 at the delta's min ldts — the
    // current_status left join has no hit for it, and the exclusion
    // predicate must not swallow the NULL (ADVICE r1, eff_sat_v0.sql NOT
    // EXISTS keeps rows with no current_status match)
    val b23 = Seq(("k1", "2024-01-02 00:00:00"), ("k3", "2024-01-02 00:00:00"),
      ("k1", "2024-01-03 00:00:00"), ("k3", "2024-01-03 00:00:00"))
      .toDF("hk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    val delta = EffSatLoader.records(b23, "hk", Some(store.read("e")))
    val k3 = delta.filter($"hk" === "k3").collect()
    assert(k3.length == 1 && k3(0).getAs[Boolean]("is_active")
      && k3(0).getTimestamp(1).toString == "2024-01-02 00:00:00.0")
    // k1 stays continuously active -> no new row
    assert(delta.filter($"hk" === "k1").count() == 0)
  }

  test("eff sat disableHwm=true processes rows at or below the target HWM") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val b1 = Seq(("k1", "2024-01-05 00:00:00"))
      .toDF("hk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    store.append("e", EffSatLoader.records(b1, "hk", None))
    // backfill batch entirely OLDER than the target's HWM (2024-01-05)
    val backfill = Seq(("k9", "2024-01-02 00:00:00"))
      .toDF("hk", "ldts_s").withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    val t = store.read("e")
    assert(EffSatLoader.records(backfill, "hk", Some(t)).filter($"hk" === "k9" &&
      $"is_active").count() == 0) // HWM filter drops it
    assert(EffSatLoader.records(backfill, "hk", Some(t), disableHwm = true)
      .filter($"hk" === "k9" && $"is_active").count() == 1) // full re-scan keeps it
  }

  test("ma sat: reordered multi-active set across batches is NOT a change") {
    val src = Seq(
      ("k1", "2024-01-01 00:00:00", "home", "111"), ("k1", "2024-01-01 00:00:00", "work", "222"),
      ("k1", "2024-01-02 00:00:00", "work", "222"), ("k1", "2024-01-02 00:00:00", "home", "111"),
      ("k1", "2024-01-03 00:00:00", "home", "999"), ("k1", "2024-01-03 00:00:00", "work", "222"))
      .toDF("hk", "ldts_s", "ma", "phone")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("TEST"))
    val hashed = src.join(
      src.groupBy("hk", "ldts").agg(
        graft.expr.Hashing.maHashdiff(Seq($"phone"), Seq($"ma")).as("hd")),
      Seq("hk", "ldts"))
    val out = MaSatV0Loader.records(hashed, "hk", "hd", Seq("ma"), Seq("phone"), None)
    // batch 2 is the same set -> dropped; batches 1 and 3 kept (2 rows each)
    assert(out.count() == 4)
    assert(out.select("ldts").distinct().count() == 2)
  }

  test("rehash entity MD5 -> SHA256 preserves ghost keys and row count") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val md5cfg = HashConfig()
    val shacfg = HashConfig(algorithm = "SHA256")
    val hub = HubLoader.records(
      Seq(EntitySource(aabSource, Some("hk"), Seq("bk"))), "hk", Seq("bk"), None)
      .unionByName(Seq((md5cfg.zeroKey, "(unknown)", "SYSTEM"))
        .toDF("hk", "bk", "rsrc")
        .withColumn("ldts", to_timestamp(lit("0001-01-01 00:00:01"))))
    store.overwrite("h", hub.select("hk", "bk", "ldts", "rsrc"))
    TxRehash.rehashEntity(store, "h", "hk", Seq("bk"), md5cfg, shacfg)
    val out = store.read("h")
    assert(out.count() == 3)
    assert(out.filter($"hk" === shacfg.zeroKey).count() == 1) // ghost preserved
    assert(out.filter(length($"hk") === 64).count() == 2)     // business rows rehashed
  }

  test("PIT as-of strategy equals the range-join strategy") {
    // v0 sat: k1 has 3 versions, k2 one, k3 none (ghost pointers)
    val v0 = Seq(
      ("k1", "2024-01-01 00:00:00", "A"), ("k1", "2024-01-03 00:00:00", "B"),
      ("k1", "2024-01-05 00:00:00", "C"), ("k2", "2024-01-02 00:00:00", "X"))
      .toDF("hk", "ldts_s", "payload")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
    val v1 = graft.ops.Ops.endDate(v0, "hk")
    val hub = Seq("k1", "k2", "k3").toDF("hk")
    val snaps = Seq("2023-12-31 00:00:00", "2024-01-01 00:00:00", "2024-01-02 12:00:00",
      "2024-01-04 00:00:00", "2024-01-06 00:00:00")
      .toDF("sdts_s").withColumn("sdts", to_timestamp($"sdts_s")).drop("sdts_s")
      .withColumn("is_active", lit(true))
    val sats = Seq(PitSatellite("s", v1))
    val viaRange = PitLoader.records(hub, "hk", sats, snaps, "dim_key")
    val viaAsOf = PitLoader.recordsAsOf(hub, "hk", sats, snaps, "dim_key")
    assert(viaRange.columns.toSeq == viaAsOf.columns.toSeq)
    assert(viaRange.exceptAll(viaAsOf).isEmpty && viaAsOf.exceptAll(viaRange).isEmpty)
    // 3 keys × 5 snapshots
    assert(viaAsOf.count() == 15)
  }

  test("rehash_all: hubs -> links -> satellites, YAML-driven, MD5 -> SHA256") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val md5cfg = HashConfig()
    val shacfg = HashConfig(algorithm = "SHA256")
    def hkMd5(c: org.apache.spark.sql.Column) = graft.expr.Hashing.hashkey(Seq(c))(md5cfg)
    def ldts1 = to_timestamp(lit("2024-01-01 00:00:00"))

    val custHub = Seq("k1", "k2").toDF("c_custkey")
      .withColumn("hk_customer_h", hkMd5($"c_custkey"))
      .withColumn("ldts", ldts1).withColumn("rsrc", lit("T"))
    val natHub = Seq("n1").toDF("n_nationkey")
      .withColumn("hk_nation_h", hkMd5($"n_nationkey"))
      .withColumn("ldts", ldts1).withColumn("rsrc", lit("T"))
    val link = Seq(("k1", "n1"), ("k2", "n1")).toDF("c_custkey", "n_nationkey")
      .withColumn("hk_customer_nation_l",
        graft.expr.Hashing.hashkey(Seq($"c_custkey", $"n_nationkey"))(md5cfg))
      .withColumn("hk_customer_h", hkMd5($"c_custkey"))
      .withColumn("hk_nation_h", hkMd5($"n_nationkey"))
      .select("hk_customer_nation_l", "hk_customer_h", "hk_nation_h")
      .withColumn("ldts", ldts1).withColumn("rsrc", lit("T"))
    val sat = Seq(("k1", "A"), ("k2", "B")).toDF("c_custkey", "payload")
      .withColumn("hk_customer_h", hkMd5($"c_custkey"))
      .withColumn("hd_customer_s", graft.expr.Hashing.hashdiff(Seq($"payload"))(md5cfg))
      .select("hk_customer_h", "hd_customer_s", "payload")
      .withColumn("ldts", ldts1).withColumn("rsrc", lit("T"))
    store.overwrite("customer_h", custHub)
    store.overwrite("nation_h", natHub)
    store.overwrite("customer_nation_l", link)
    store.overwrite("customer_s", sat)

    TxRehash.rehashAllFromYaml(store,
      """hubs:
        |  - name: customer_h
        |    hashkey: hk_customer_h
        |    business_keys:
        |      - c_custkey
        |  - name: nation_h
        |    hashkey: hk_nation_h
        |    business_keys:
        |      - n_nationkey
        |links:
        |  - name: customer_nation_l
        |    link_hashkey: hk_customer_nation_l
        |    additional_hash_input_cols: []
        |    hub_config:
        |      - hub_hashkey: hk_customer_h
        |        hub_name: customer_h
        |        business_keys:
        |          - c_custkey
        |      - hub_hashkey: hk_nation_h
        |        hub_name: nation_h
        |        business_keys:
        |          - n_nationkey
        |satellites:
        |  - name: customer_s
        |    hashkey: hk_customer_h
        |    hashdiff: hd_customer_s
        |    payload:
        |      - payload
        |    parent_entity: customer_h
        |""".stripMargin, md5cfg, shacfg)

    def hkSha(v: String) = Seq(v).toDF("x")
      .select(graft.expr.Hashing.hashkey(Seq($"x"))(shacfg)).head().getString(0)
    val hub2 = store.read("customer_h")
    assert(hub2.filter($"c_custkey" === "k1").head().getAs[String]("hk_customer_h") == hkSha("k1"))
    val link2 = store.read("customer_nation_l").filter($"hk_customer_h" === hkSha("k1")).collect()
    assert(link2.length == 1)
    assert(link2(0).getAs[String]("hk_nation_h") == hkSha("n1"))
    // link hashkey = sha-hashkey over BOTH parent business keys
    val wantLhk = Seq(("k1", "n1")).toDF("a", "b")
      .select(graft.expr.Hashing.hashkey(Seq($"a", $"b"))(shacfg)).head().getString(0)
    assert(link2(0).getAs[String]("hk_customer_nation_l") == wantLhk)
    // satellite re-keyed to the hub's new hashkey, hashdiff re-derived
    val sat2 = store.read("customer_s").filter($"payload" === "A").head()
    assert(sat2.getAs[String]("hk_customer_h") == hkSha("k1"))
    assert(sat2.getAs[String]("hd_customer_s") ==
      Seq("A").toDF("p").select(graft.expr.Hashing.hashdiff(Seq($"p"))(shacfg)).head().getString(0))
  }

  test("stage includeSourceColumns=false keeps only added columns (incl. ghosts)") {
    val src = Seq(("k1", "A", 1.0), ("k2", "B", 2.0)).toDF("bk", "name", "bal")
    val cfg = StageConfig(
      ldts = "!2024-01-01 00:00:00", rsrc = "!TEST",
      derivedColumns = Seq(DerivedColumn("name_up", "upper(name)")),
      hashedColumns = Seq(
        HashColumnSpec("hk", Seq("bk")),
        HashColumnSpec("hd", Seq("name", "bal"), isHashdiff = true)),
      includeSourceColumns = false)
    val out = StageLoader.build(src, cfg)
    assert(out.columns.sorted.toSeq == Seq("hd", "hk", "ldts", "name_up", "rsrc"))
    // ghost records survive the projection with the stage schema
    assert(out.count() == 4)
  }

  test("stage excludeColumns resolves case-insensitively and rejects typos") {
    val src = Seq(("k1", "A")).toDF("BK", "name")
    def cfg(ex: String) = StageConfig(
      ldts = "!2024-01-01 00:00:00", rsrc = "!TEST",
      hashedColumns = Seq(
        HashColumnSpec("hd", Seq(ex), isHashdiff = true, excludeColumns = true)),
      enableGhostRecords = false)
    // 'bk' (lowercase) must exclude source column 'BK' → hash of name only
    val got = StageLoader.build(src, cfg("bk")).select("hd").head().getString(0)
    val want = src.select(graft.expr.Hashing.hashdiff(Seq($"name")).as("hd")).head().getString(0)
    assert(got == want)
    val e = intercept[IllegalArgumentException] {
      StageLoader.build(src, cfg("not_a_col"))
    }
    assert(e.getMessage.contains("not_a_col"))
  }

  test("pit snapshot_optimization: restricted rebuild equals full incremental") {
    val sat = Seq(
      ("k1", "2024-01-01 00:00:00", "2024-01-02 11:59:59"),
      ("k1", "2024-01-02 12:00:00", "8888-12-31 23:59:59"),
      ("k2", "2024-01-01 00:00:00", "8888-12-31 23:59:59"))
      .toDF("hk", "ldts_s", "ledts_s")
      .withColumn("ldts", to_timestamp($"ldts_s"))
      .withColumn("ledts", to_timestamp($"ledts_s")).drop("ldts_s", "ledts_s")
    val hub = Seq("k1", "k2").toDF("hk")
    def snaps(days: Int) = (1 to days).map(d => (s"2024-01-0$d 18:00:00", true))
      .toDF("sdts_s", "is_active")
      .withColumn("sdts", to_timestamp($"sdts_s")).drop("sdts_s")
    val target = PitLoader.records(hub, "hk", Seq(PitSatellite("s1", sat)),
      snaps(2), "dim_key")
    val optimized = PitLoader.records(hub, "hk", Seq(PitSatellite("s1", sat)),
      snaps(3), "dim_key", target = Some(target), snapshotOptimization = true)
    val plain = PitLoader.records(hub, "hk", Seq(PitSatellite("s1", sat)),
      snaps(3), "dim_key", target = Some(target))
    assert(optimized.exceptAll(plain).isEmpty && plain.exceptAll(optimized).isEmpty)
    // only the new snapshot's slots are inserted
    assert(optimized.select("sdts").distinct().as[java.sql.Timestamp].collect()
      .map(_.toString).toSet == Set("2024-01-03 18:00:00.0"))
  }

  test("pit_type adds the type column and feeds the dimension-key hash") {
    val sat = Seq(("k1", "2024-01-01 00:00:00", "8888-12-31 23:59:59"))
      .toDF("hk", "ldts_s", "ledts_s")
      .withColumn("ldts", to_timestamp($"ldts_s"))
      .withColumn("ledts", to_timestamp($"ledts_s")).drop("ldts_s", "ledts_s")
    val hub = Seq("k1").toDF("hk")
    val snaps = Seq(("2024-01-01 18:00:00", true)).toDF("sdts_s", "is_active")
      .withColumn("sdts", to_timestamp($"sdts_s")).drop("sdts_s")
    val typed = PitLoader.records(hub, "hk", Seq(PitSatellite("s1", sat)), snaps,
      "dim_key", pitType = Some("daily"))
    val untyped = PitLoader.records(hub, "hk", Seq(PitSatellite("s1", sat)), snaps,
      "dim_key")
    assert(typed.columns.head == "type")
    assert(typed.head().getAs[String]("type") == "daily")
    assert(typed.head().getAs[String]("dim_key") != untyped.head().getAs[String]("dim_key"))
  }

  test("pit cleanup deletes rows of deactivated snapshots") {
    val wh = Files.createTempDirectory("graft_t").toString
    val store = new TxLogTable(spark, wh)
    val snaps = Seq(("2024-01-01 00:00:00", true), ("2024-01-02 00:00:00", false))
      .toDF("sdts_s", "is_active")
      .withColumn("sdts", to_timestamp($"sdts_s")).drop("sdts_s")
    store.overwrite("snap", snaps)
    val pit = Seq(("a", "2024-01-01 00:00:00"), ("a", "2024-01-02 00:00:00"),
      ("b", "2024-01-02 00:00:00"))
      .toDF("hk", "sdts_s").withColumn("sdts", to_timestamp($"sdts_s")).drop("sdts_s")
    store.overwrite("pit", pit)
    TxPitCleaner.cleanUp(store, "pit", "snap")
    assert(store.read("pit").count() == 1)
    assert(store.read("pit").select("hk").as[String].collect().toSeq == Seq("a"))
  }
}
