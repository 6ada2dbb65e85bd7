package graft.runtime

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.{HashConfig, Hashing}
import graft.runtime.TxRehash.{HubRehash, LinkHubRef, LinkRehash, SatRehash}

/** Whole-vault rehash + PIT cleanup on the TRANSACTIONAL format
  * (reference `rehash_all_rdv_entities.sql:139-151`, `clean_up_pits.sql:128-136`). */
class TxMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val md5 = HashConfig()
  private val sha = HashConfig(algorithm = "SHA256")

  private def freshStore(): TxLogTable =
    new TxLogTable(spark, Files.createTempDirectory("txmaint").toString)

  /** 3-customer, 3-order vault: hub×2, link, sat-on-hub. */
  private def buildVault(t: TxLogTable): Unit = {
    val cust = Seq((1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey")))(md5))
    val ord = Seq((101, 1), (102, 2), (103, 3))
      .toDF("o_orderkey", "o_custkey")
      .withColumn("hk_order_h", Hashing.hashkey(Seq(col("o_orderkey")))(md5))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey")))(md5))
      .withColumn("lk_customer_order_l",
        Hashing.hashkey(Seq(col("o_custkey"), col("o_orderkey")))(md5))
    t.overwrite("customer_h", cust.select("hk_customer_h", "c_custkey"))
    t.overwrite("order_h", ord.select(col("hk_order_h"), col("o_orderkey")))
    t.overwrite("customer_order_l",
      ord.select("lk_customer_order_l", "hk_customer_h", "hk_order_h"))
    t.overwrite("customer_s", cust
      .withColumn("ldts", lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("hd_customer_s",
        Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal")))(md5))
      .select("hk_customer_h", "hd_customer_s", "ldts", "c_name", "c_acctbal"))
  }

  private val hubs = Seq(
    HubRehash("customer_h", "hk_customer_h", Seq("c_custkey")),
    HubRehash("order_h", "hk_order_h", Seq("o_orderkey")))
  private val links = Seq(
    LinkRehash("customer_order_l", "lk_customer_order_l", Seq(
      LinkHubRef("hk_customer_h", "customer_h", Seq("c_custkey")),
      LinkHubRef("hk_order_h", "order_h", Seq("o_orderkey")))))
  private val sats = Seq(
    SatRehash("customer_s", "hk_customer_h", Some("hd_customer_s"),
      Seq("c_name", "c_acctbal"), "customer_h"))

  test("rehashAll: every entity re-keyed MD5→SHA256, old hashes kept as _deprecated") {
    val t = freshStore()
    buildVault(t)
    val oldLink = t.read("customer_order_l").collect().map(_.getString(0)).toSet

    TxRehash.rehashAll(t, hubs, links, sats, md5, sha)

    // hub: new key = sha256(bk), old key recoverable
    val hub = t.read("customer_h")
    assert(hub.columns.contains("hk_customer_h_deprecated"))
    val expectHub = Seq(1, 2, 3).toDF("c_custkey")
      .withColumn("hk", Hashing.hashkey(Seq(col("c_custkey")))(sha))
      .as[(Int, String)].collect().toMap
    hub.select("c_custkey", "hk_customer_h").as[(Int, String)].collect().foreach {
      case (k, hk) => assert(hk === expectHub(k), s"hub key for $k")
    }

    // link: hashkey recomputed from BOTH parents' business keys; FKs re-keyed
    val link = t.read("customer_order_l")
    assert(link.columns.contains("lk_customer_order_l_deprecated"))
    val expectLink = Seq((1, 101), (2, 102), (3, 103)).toDF("ck", "ok")
      .select(
        Hashing.hashkey(Seq(col("ck"), col("ok")))(sha).as("lk"),
        Hashing.hashkey(Seq(col("ck")))(sha).as("fkc"),
        Hashing.hashkey(Seq(col("ok")))(sha).as("fko"))
      .as[(String, String, String)].collect().toSet
    assert(link.select("lk_customer_order_l", "hk_customer_h", "hk_order_h")
      .as[(String, String, String)].collect().toSet === expectLink)
    assert(link.select("lk_customer_order_l_deprecated")
      .as[String].collect().toSet === oldLink, "old link keys survive as _deprecated")

    // sat: re-keyed via parent map, hashdiff recomputed under SHA256
    val sat = t.read("customer_s")
    val expectSat = Seq((1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0))
      .toDF("k", "n", "b")
      .select(
        Hashing.hashkey(Seq(col("k")))(sha).as("hk"),
        Hashing.hashdiff(Seq(col("n"), col("b")))(sha).as("hd"))
      .as[(String, String)].collect().toSet
    assert(sat.select("hk_customer_h", "hd_customer_s")
      .as[(String, String)].collect().toSet === expectSat)

    // cleanup drops every recovery column, metadata-only
    TxRehash.dropDeprecatedAll(t, hubs, links, sats)
    assert(!t.read("customer_h").columns.exists(_.endsWith("_deprecated")))
    assert(!t.read("customer_order_l").columns.exists(_.endsWith("_deprecated")))
    assert(!t.read("customer_s").columns.exists(_.endsWith("_deprecated")))
  }

  test("recoverEntity: each committed crash state maps to the right recovery") {
    import TxRehash.Recovery

    // crashed after ADD COLUMN, before the data pass: _updated is all NULL
    // ⇒ rollback restores the exact pre-rehash state
    val t1 = freshStore(); buildVault(t1)
    t1.addColumn("customer_h", "hk_customer_h_updated", "string")
    assert(TxRehash.recoverEntity(t1, "customer_h", "hk_customer_h") == Recovery.RolledBack)
    assert(!t1.read("customer_h").columns.contains("hk_customer_h_updated"))
    assert(TxRehash.recoverEntity(t1, "customer_h", "hk_customer_h") == Recovery.Clean)
    TxRehash.rehashEntity(t1, "customer_h", "hk_customer_h", Seq("c_custkey"), md5, sha)
    assert(TxRehash.recoverEntity(t1, "customer_h", "hk_customer_h") == Recovery.Done)

    // crashed after the one data commit, before any rename ⇒ finish forward;
    // result must be byte-identical to an uncrashed rehashEntity
    val t2 = freshStore(); buildVault(t2)
    t2.addColumn("customer_h", "hk_customer_h_updated", "string")
    val v = t2.currentVersion("customer_h").get
    t2.replaceFiles("customer_h", t2.files("customer_h", v)) { df =>
      df.withColumn("hk_customer_h_updated",
        Hashing.hashkey(Hashing.hashInputs(df, Seq("c_custkey")))(sha))
    }
    assert(TxRehash.recoverEntity(t2, "customer_h", "hk_customer_h") == Recovery.Finished)
    val ref = freshStore(); buildVault(ref)
    TxRehash.rehashEntity(ref, "customer_h", "hk_customer_h", Seq("c_custkey"), md5, sha)
    def state(t: TxLogTable) = t.read("customer_h")
      .select("hk_customer_h", "hk_customer_h_deprecated", "c_custkey")
      .as[(String, String, Int)].collect().toSet
    assert(state(t2) === state(ref), "finished-forward equals uncrashed rehash")

    // crashed between the two renames (hash column temporarily absent)
    val t3 = freshStore(); buildVault(t3)
    t3.addColumn("customer_h", "hk_customer_h_updated", "string")
    val v3 = t3.currentVersion("customer_h").get
    t3.replaceFiles("customer_h", t3.files("customer_h", v3)) { df =>
      df.withColumn("hk_customer_h_updated",
        Hashing.hashkey(Hashing.hashInputs(df, Seq("c_custkey")))(sha))
    }
    t3.renameColumn("customer_h", "hk_customer_h", "hk_customer_h_deprecated")
    assert(TxRehash.recoverEntity(t3, "customer_h", "hk_customer_h") == Recovery.Finished)
    assert(state(t3) === state(ref), "mid-rename recovery equals uncrashed rehash")
  }

  test("resumeAll completes a whole-vault rehash crashed mid-run") {
    import TxRehash.Recovery
    val t = freshStore(); buildVault(t)
    // crash scenario: both hubs done, link crashed right after ADD COLUMN,
    // satellite untouched
    hubs.foreach(h =>
      TxRehash.rehashEntity(t, h.name, h.hashkey, h.businessKeys, md5, sha))
    t.addColumn("customer_order_l", "lk_customer_order_l_updated", "string")

    val findings = TxRehash.resumeAll(t, hubs, links, sats, md5, sha)
    assert(findings === Map(
      "customer_h" -> Recovery.Done, "order_h" -> Recovery.Done,
      "customer_order_l" -> Recovery.RolledBack, "customer_s" -> Recovery.Clean))

    // the resumed vault is exactly where an uncrashed rehashAll lands
    val ref = freshStore(); buildVault(ref)
    TxRehash.rehashAll(ref, hubs, links, sats, md5, sha)
    def dump(t: TxLogTable, table: String, cols: String*) =
      t.read(table).select(cols.head, cols.tail: _*).collect()
        .map(_.toSeq).toSet
    for ((table, cols) <- Seq(
      "customer_h" -> Seq("hk_customer_h", "hk_customer_h_deprecated", "c_custkey"),
      "customer_order_l" -> Seq("lk_customer_order_l",
        "lk_customer_order_l_deprecated", "hk_customer_h", "hk_order_h"),
      "customer_s" -> Seq("hk_customer_h", "hk_customer_h_deprecated",
        "hd_customer_s", "c_name", "c_acctbal")))
      assert(dump(t, table, cols: _*) === dump(ref, table, cols: _*),
        s"$table after resume equals uncrashed rehashAll")
  }

  test("rehashAll to BINARY: link FKs and sat hashdiffs are raw digest bytes") {
    val t = freshStore()
    buildVault(t)
    val shaBin = HashConfig(algorithm = "SHA256", hashDatatype = "BINARY")

    TxRehash.rehashAll(t, hubs, links, sats, md5, shaBin)

    // link: stored FK bytes must equal the hub's binary key — a stale
    // 'string' manifest type would UTF-8-mangle the digest on write
    val expectFk = Seq(1, 2, 3).toDF("k")
      .select(Hashing.hashkey(Seq(col("k")))(shaBin).as("hk"))
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    val gotFk = t.read("customer_order_l").select("hk_customer_h")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    assert(gotFk === expectFk, "binary FK bytes round-trip")

    // sat: hashdiff is the 32-byte SHA256 digest of the payload
    val expectHd = Seq(("alice", 10.0), ("bob", 20.0), ("carol", 30.0))
      .toDF("n", "b")
      .select(Hashing.hashdiff(Seq(col("n"), col("b")))(shaBin).as("hd"))
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    val gotHd = t.read("customer_s").select("hd_customer_s")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    assert(gotHd === expectHd, "binary hashdiff bytes round-trip")
    assert(gotHd.forall(_.length == 32), "SHA256 digest is 32 raw bytes")

    // join-readiness: every sat key resolves against the hub's binary key
    val hubKeys = t.read("customer_h").select("hk_customer_h")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    val satKeys = t.read("customer_s").select("hk_customer_h")
      .as[Array[Byte]].collect().map(_.toSeq).toSet
    assert(satKeys.subsetOf(hubKeys), "sat keys join the hub after rehash")
  }

  test("replaceFiles retype refuses a partial rewrite") {
    val t = freshStore()
    t.overwrite("tbl", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append("tbl", Seq((3, "c")).toDF("id", "v"))
    val v = t.currentVersion("tbl").get
    val one = t.files("tbl", v).take(1)
    intercept[IllegalArgumentException] {
      t.replaceFiles("tbl", one, retype = Map("v" -> "binary"))(identity)
    }
  }

  test("rehashAll: exactly one data rewrite per entity, DDL commits touch zero files") {
    val t = freshStore()
    buildVault(t)
    TxRehash.rehashAll(t, hubs, links, sats, md5, sha)
    // lifecycle per entity: add(+1) rewrite(+1) rename(+1) rename(+1) = 4
    // commits on top of v1, and only the rewrite changes the file list
    Seq("customer_h", "order_h", "customer_order_l", "customer_s").foreach { n =>
      val vs = t.versions(n)
      assert(vs === Seq(1L, 2L, 3L, 4L, 5L), s"$n commit count")
      val fileLists = vs.map(v => t.files(n, v))
      assert(fileLists(0) === fileLists(1), s"$n ADD COLUMN is metadata-only")
      assert(fileLists(1) !== fileLists(2), s"$n rewrite replaces files")
      assert(fileLists(2) === fileLists(3), s"$n RENAME is metadata-only")
      assert(fileLists(3) === fileLists(4), s"$n RENAME is metadata-only")
    }
  }

  test("rehashAll fails loudly on a satellite row with no parent map entry") {
    val t = freshStore()
    buildVault(t)
    // orphan sat row: hashkey not present in the hub
    t.append("customer_s", Seq(("deadbeef", "x", Timestamp.valueOf("2024-01-01 00:00:00"), "zed", 0.0))
      .toDF("hk_customer_h", "hd_customer_s", "ldts", "c_name", "c_acctbal"))
    val e = intercept[Exception] {
      TxRehash.rehashAll(t, hubs, links, sats, md5, sha)
    }
    assert(e.getMessage.contains("no customer_h map row") ||
      Option(e.getCause).exists(_.getMessage.contains("no customer_h map row")))
  }

  test("TxPitCleaner: only files holding deactivated rows are rewritten") {
    val t = freshStore()
    val s1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val s2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val s3 = Timestamp.valueOf("2024-01-03 00:00:00")
    // three appends → three single-file batches, each one snapshot's rows
    t.append("pit", Seq((s1, "a"), (s1, "b")).toDF("sdts", "hk").coalesce(1))
    t.append("pit", Seq((s2, "a"), (s2, "b")).toDF("sdts", "hk").coalesce(1))
    t.append("pit", Seq((s3, "a")).toDF("sdts", "hk").coalesce(1))
    t.overwrite("snap", Seq((s1, true), (s2, false), (s3, true)).toDF("sdts", "is_active"))

    val vBefore = t.currentVersion("pit").get
    val filesBefore = t.files("pit", vBefore)
    val (rewritten, total) = TxPitCleaner.cleanUp(t, "pit", "snap")
    assert(total === filesBefore.size)
    assert(rewritten === 1, "only the s2 batch holds deactivated rows")

    val filesAfter = t.files("pit", t.currentVersion("pit").get)
    // untouched files carry over by IDENTITY (same relative paths)
    assert(filesBefore.toSet.intersect(filesAfter.toSet).size === filesBefore.size - 1)
    assert(t.read("pit").as[(Timestamp, String)].collect().toSet ===
      Set((s1, "a"), (s1, "b"), (s3, "a")))

    // idempotent: a second pass rewrites nothing and commits nothing
    val vAfter = t.currentVersion("pit").get
    val (r2, _) = TxPitCleaner.cleanUp(t, "pit", "snap")
    assert(r2 === 0)
    assert(t.currentVersion("pit").get === vAfter, "no-op cleanup must not commit")
  }

  test("TxPitCleaner keeps NULL-sdts rows (SQL NOT IN is never true for NULL)") {
    val t = freshStore()
    val s1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val s2 = Timestamp.valueOf("2024-01-02 00:00:00")
    t.append("pit", Seq((Option(s1), "a"), (Option(s2), "b"),
      (Option.empty[Timestamp], "c")).toDF("sdts", "hk").coalesce(1))
    t.overwrite("snap", Seq((s1, true), (s2, false)).toDF("sdts", "is_active"))
    val (rewritten, _) = TxPitCleaner.cleanUp(t, "pit", "snap")
    assert(rewritten === 1)
    assert(t.read("pit").as[(Option[Timestamp], String)].collect().toSet ===
      Set((Some(s1), "a"), (None, "c")), "NULL-sdts row survives the DELETE")
  }

  test("TxPitCleaner: with sdts stats the probe is decided from the manifest") {
    val t = freshStore()
    val s1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val s2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val s3 = Timestamp.valueOf("2024-01-03 00:00:00")
    Seq(s1, s2, s3).foreach { sd =>
      t.append("pit", Seq((sd, "a"), (sd, "b")).toDF("sdts", "hk").coalesce(1))
    }
    t.setStatsColumns("pit", Seq("sdts"))
    t.overwrite("snap", Seq((s1, true), (s2, false), (s3, true)).toDF("sdts", "is_active"))
    // every file is single-sdts (min==max) → stats decide all of them; the
    // s2 file is doomed straight from the manifest, nothing else is read
    val (rewritten, total) = TxPitCleaner.cleanUp(t, "pit", "snap")
    assert(total === 3 && rewritten === 1)
    assert(t.read("pit").as[(Timestamp, String)].collect().toSet ===
      Set((s1, "a"), (s1, "b"), (s3, "a"), (s3, "b")))
  }

  test("rehash pre-run guard catches a leftover _updated column from a crashed run") {
    val t = freshStore()
    buildVault(t)
    // simulate a crash after addColumn but before the renames
    t.addColumn("customer_h", "hk_customer_h_updated", "string")
    val e = intercept[IllegalArgumentException] {
      TxRehash.rehashAll(t, hubs, links, sats, md5, sha)
    }
    assert(e.getMessage.contains("finish or roll back the previous rehash"))
  }
}
