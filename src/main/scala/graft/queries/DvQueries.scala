package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.{HashConfig, Hashing}
import graft.expr.SystemColumns._
import graft.loaders._
import graft.ops.Ops
import graft.queries.{OracleSql => O}
import graft.runtime.TxRehash

/** One driver-checkable query: Spark implementation + DuckDB oracle SQL.
  * Column names MUST match between the two (driver compares by name). */
final case class Q(name: String, fn: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

/** Data Vault operator queries over the driver test data (SURVEY §2).
  * Staging conventions (same on both sides):
  *  - customer: ldts = 2024-01-01 + (c_custkey % 3) days, rsrc TPC_H/Customer
  *  - orders:   ldts = 2024-01-04 + (o_orderkey % 3) days, rsrc TPC_H/Orders
  */
object DvQueries {
  implicit val hc: HashConfig = HashConfig()

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Temp warehouse for the tx/store queries — these hold table-sized
    * copies of customer/orders, so disk use must stay bounded: a repeat
    * invocation for the SAME prefix (Bench runs every query N passes)
    * deletes the previous pass's directory first, capping the footprint at
    * one live copy per query; whatever survives is removed on JVM exit. */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree)); f.delete(); ()
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpDirs.values.forEach(p => rmTree(p.toFile))
    }))
  }
  private[queries] def tmpWarehouse(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Option(tmpDirs.put(prefix, p)).foreach(old => rmTree(old.toFile))
    p.toString
  }

  // ---- shared Spark staging fragments ----------------------------------
  private def custStage(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .withColumn(LdtsAlias,
        expr("timestampadd(DAY, cast(c_custkey % 3 as int), timestamp'2024-01-01 00:00:00')"))
      .withColumn(RsrcAlias, lit("TPC_H/Customer"))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))

  private def ordStage(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "orders")
      .withColumn(LdtsAlias,
        expr("timestampadd(DAY, cast(o_orderkey % 3 as int), timestamp'2024-01-04 00:00:00')"))
      .withColumn(RsrcAlias, lit("TPC_H/Orders"))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))

  /** 3-batch customer source: every key changes at b=2, keys %5=0 also at
    * b=1 — the A→A→B LAG-dedup fixture shape (FIXTURES §3). */
  private[queries] def cust3Batch(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .crossJoin(s.range(3).select(col("id").as("b")))
      .withColumn(LdtsAlias,
        expr("timestampadd(DAY, cast(b as int), timestamp'2024-02-01 00:00:00')"))
      .withColumn(RsrcAlias, lit("TPC_H/Customer"))
      .withColumn("c_acctbal_v",
        col("c_acctbal") + when(col("b") === 2, 3.0)
          .when(col("b") === 1 && col("c_custkey") % 5 === 0, 1.5).otherwise(0.0))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
      .withColumn("hd_customer_s",
        Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal_v"), col("c_mktsegment"))))

  /** Incremental-sat fixture: 3 batches; %5 keys change at b1 (and keep the
    * value), %2 keys change at b2. Target built from b≤1 makes batch 2 the
    * delta, where odd custkeys are unchanged vs the target's latest. */
  private def custIncSource(s: SparkSession, dir: String): DataFrame =
    rd(s, dir, "customer")
      .crossJoin(s.range(3).select(col("id").as("b")))
      .withColumn(LdtsAlias,
        expr("timestampadd(DAY, cast(b as int), timestamp'2024-05-01 00:00:00')"))
      .withColumn(RsrcAlias, lit("TPC_H/Customer"))
      .withColumn("c_acctbal_v",
        col("c_acctbal")
          + when(col("b") >= 1 && col("c_custkey") % 5 === 0, 1.5).otherwise(0.0)
          + when(col("b") === 2 && col("c_custkey") % 2 === 0, 3.0).otherwise(0.0))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
      .withColumn("hd_customer_s",
        Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal_v"), col("c_mktsegment"))))

  /** MA-sat fixture: 2 load dates; even custkeys' order sets change at b1
    * (one cent on every totalprice), odd custkeys' sets are identical. */
  private def ordMaStage(s: SparkSession, dir: String): DataFrame = {
    val src = rd(s, dir, "orders")
      .crossJoin(s.range(2).select(col("id").as("b")))
      .withColumn(LdtsAlias,
        expr("timestampadd(DAY, cast(b as int), timestamp'2024-03-10 00:00:00')"))
      .withColumn(RsrcAlias, lit("TPC_H/Orders"))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))
      .withColumn("o_totalprice_v",
        col("o_totalprice") + when(col("b") === 1 && col("o_custkey") % 2 === 0, 1.0).otherwise(0.0))
    val grouped = src.groupBy(col("hk_customer_h"), col(LdtsAlias))
      .agg(Hashing.maHashdiff(Seq(col("o_orderstatus"), col("o_totalprice_v")),
        Seq(col("o_orderkey"))).as("hd_orders_ms"))
    src.join(grouped, Seq("hk_customer_h", LdtsAlias), "left")
  }

  /** The MA staged frame MATERIALIZED once per sf dir and shared by every
    * MA consumer — the staged groupBy+join chain is the dominant cost of
    * the MA queries, and each used to recompute it 2-3× (target + delta in
    * `ma_sat_incremental`, end-dating + join-back in `ma_sat_v1_order`).
    * At scale staging IS a written table consumed by many entities;
    * persist/localCheckpoint were measured dead ends, a parquet round-trip
    * through [[graft.runtime.TxLogTable]] is not. */
  private val maStageCache = scala.collection.mutable.Map.empty[String, DataFrame]
  private def ordMaStageMat(s: SparkSession, dir: String): DataFrame =
    maStageCache.synchronized {
      maStageCache.getOrElseUpdate(dir, {
        val t = new graft.runtime.TxLogTable(s, tmpWarehouse("graft_q_mastage"))
        t.overwrite("ord_ma_stage", ordMaStage(s, dir))
        t.read("ord_ma_stage")
      })
    }

  /** Bench hook: forget the materialized MA staged frame so the canonical
    * MA query's timing includes the cold stage write+read (median-of-N
    * would otherwise hide the shared one-time cost from every median). */
  def evictShared(): Unit = maStageCache.synchronized { maStageCache.clear() }

  // ---- shared oracle fragments -----------------------------------------
  /** one oracle for BOTH yaml_vault and runner_yaml_vault — the runner-
    * scheduled build must be byte-identical to the hand-wired chain */
  private val yamlVaultOracle =
    s"""WITH stage AS (
       |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
       |         timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
       |         ${O.hashkey("c_custkey")} AS hk_customer_h
       |  FROM customer),
       |hub AS (SELECT DISTINCT hk_customer_h FROM stage),
       |sat_v1 AS (
       |  SELECT hk_customer_h, ldts,
       |         COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
       |           OVER (PARTITION BY hk_customer_h ORDER BY ldts),
       |           timestamp '8888-12-31 23:59:59') AS ledts
       |  FROM stage),
       |snaps AS (
       |  SELECT unnest(generate_series(timestamp '2024-02-01 12:00:00',
       |    timestamp '2024-02-08 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts),
       |pit AS (
       |  SELECT ${O.hashkey("te.hk_customer_h", "snap.sdts")} AS dim_key_customer,
       |    te.hk_customer_h, snap.sdts,
       |    COALESCE(sv.hk_customer_h, '${O.ZeroKey}') AS hk_sat_customer,
       |    COALESCE(sv.ldts, timestamp '0001-01-01 00:00:01') AS ldts_sat_customer
       |  FROM hub te
       |  CROSS JOIN (SELECT sdts FROM snaps WHERE sdts < timestamp '2024-02-08 00:00:00') snap
       |  LEFT JOIN sat_v1 sv ON sv.hk_customer_h = te.hk_customer_h
       |    AND snap.sdts BETWEEN sv.ldts AND sv.ledts)
       |SELECT DISTINCT * FROM pit""".stripMargin

  private val custStageSql =
    s"""cust_stage AS (
       |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
       |         timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
       |         'TPC_H/Customer' AS rsrc,
       |         ${O.hashkey("c_custkey")} AS hk_customer_h
       |  FROM customer)""".stripMargin

  private val cust3BatchSql =
    s"""src AS (
       |  SELECT c_custkey, c_name, c_mktsegment,
       |         timestamp '2024-02-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
       |         'TPC_H/Customer' AS rsrc,
       |         c_acctbal + CASE WHEN b = 2 THEN 3.0
       |                          WHEN b = 1 AND c_custkey % 5 = 0 THEN 1.5
       |                          ELSE 0.0 END AS c_acctbal_v,
       |         ${O.hashkey("c_custkey")} AS hk_customer_h
       |  FROM customer CROSS JOIN (VALUES (0),(1),(2)) AS batches(b)),
       |hashed AS (
       |  SELECT *, ${O.hashdiff("c_name", "c_acctbal_v", "c_mktsegment")} AS hd_customer_s
       |  FROM src)""".stripMargin

  private val custIncSql =
    s"""src AS (
       |  SELECT c_custkey, c_name, c_mktsegment, b,
       |         timestamp '2024-05-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
       |         'TPC_H/Customer' AS rsrc,
       |         c_acctbal + CASE WHEN b >= 1 AND c_custkey % 5 = 0 THEN 1.5 ELSE 0.0 END
       |                   + CASE WHEN b = 2 AND c_custkey % 2 = 0 THEN 3.0 ELSE 0.0 END AS c_acctbal_v,
       |         ${O.hashkey("c_custkey")} AS hk_customer_h
       |  FROM customer CROSS JOIN (VALUES (0),(1),(2)) AS batches(b)),
       |hashed AS (
       |  SELECT *, ${O.hashdiff("c_name", "c_acctbal_v", "c_mktsegment")} AS hd_customer_s
       |  FROM src)""".stripMargin

  private val ordMaSql =
    s"""src AS (
       |  SELECT ${O.hashkey("o_custkey")} AS hk_customer_h,
       |         timestamp '2024-03-10 00:00:00' + b * INTERVAL 1 DAY AS ldts,
       |         'TPC_H/Orders' AS rsrc, o_orderkey, o_orderstatus, b,
       |         o_totalprice + CASE WHEN b = 1 AND o_custkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice_v
       |  FROM orders CROSS JOIN (VALUES (0),(1)) AS batches(b)),
       |grouped AS (
       |  SELECT hk_customer_h, ldts,
       |         ${O.maHashdiff(Seq("o_orderstatus", "o_totalprice_v"), Seq("o_orderkey"))} AS hd_orders_ms
       |  FROM src GROUP BY hk_customer_h, ldts),
       |staged AS (
       |  SELECT s.*, g.hd_orders_ms FROM src s LEFT JOIN grouped g
       |    ON s.hk_customer_h = g.hk_customer_h AND s.ldts = g.ldts)""".stripMargin

  private[queries] val satV0Sql = // change-only dedup over the 3-batch source (W3)
    s"""$cust3BatchSql,
       |sat_v0 AS (
       |  SELECT hk_customer_h, hd_customer_s, rsrc, ldts, c_name, c_acctbal_v, c_mktsegment
       |  FROM hashed
       |  QUALIFY CASE WHEN hd_customer_s = LAG(hd_customer_s)
       |      OVER (PARTITION BY hk_customer_h ORDER BY ldts) THEN FALSE ELSE TRUE END)""".stripMargin

  /** one-shot customer hub — the oracle for `hub_customer` AND the
    * warehouse round-trip `store_roundtrip` (write paths must byte-equal
    * the direct computation) */
  private lazy val hubCustomerSql =
    s"""WITH $custStageSql,
       |ord_stage AS (
       |  SELECT o_custkey,
       |         timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY AS ldts,
       |         'TPC_H/Orders' AS rsrc,
       |         ${O.hashkey("o_custkey")} AS hk_customer_h
       |  FROM orders),
       |unioned AS (
       |  SELECT hk_customer_h, c_custkey AS custkey, ldts, rsrc FROM cust_stage
       |  UNION ALL
       |  SELECT hk_customer_h, o_custkey AS custkey, ldts, rsrc FROM ord_stage)
       |SELECT hk_customer_h, custkey, ldts, rsrc FROM unioned
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts) = 1""".stripMargin

  /** one-shot customer PIT over the 7-day spine — the oracle for BOTH
    * `pit_customer` and `pit_incremental` (incremental must byte-equal it) */
  private val pitCustomerSql =
    s"""WITH $satV0Sql,
       |sat_v1 AS (
       |  SELECT *, COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
       |    OVER (PARTITION BY hk_customer_h ORDER BY ldts),
       |    timestamp '8888-12-31 23:59:59') AS ledts FROM sat_v0),
       |hub AS (SELECT DISTINCT hk_customer_h FROM hashed),
       |snaps AS (
       |  SELECT unnest(generate_series(timestamp '2024-02-01 12:00:00',
       |    timestamp '2024-02-08 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts),
       |pit AS (
       |  SELECT ${O.hashkey("te.hk_customer_h", "snap.sdts")} AS dim_key_customer,
       |    te.hk_customer_h, snap.sdts,
       |    COALESCE(s.hk_customer_h, '${O.ZeroKey}') AS hk_customer_s,
       |    COALESCE(s.ldts, timestamp '0001-01-01 00:00:01') AS ldts_customer_s
       |  FROM hub te CROSS JOIN (SELECT sdts FROM snaps WHERE sdts < timestamp '2024-02-08 00:00:00') snap
       |  LEFT JOIN sat_v1 s ON s.hk_customer_h = te.hk_customer_h
       |    AND snap.sdts BETWEEN s.ldts AND s.ledts)
       |SELECT DISTINCT * FROM pit""".stripMargin

  // ======================================================================
  val all: Seq[Q] = Seq(

    // H1-H4, P1, P2 — hashkey + hashdiff generation
    Q("stage_hash",
      (s, dir) => custStage(s, dir)
        .withColumn("hd_customer_s",
          Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal"), col("c_mktsegment"))))
        .select("c_custkey", "hk_customer_h", "hd_customer_s"),
      Some(s"""SELECT c_custkey, ${O.hashkey("c_custkey")} AS hk_customer_h,
              |${O.hashdiff("c_name", "c_acctbal", "c_mktsegment")} AS hd_customer_s
              |FROM customer""".stripMargin)),

    // U2, H6, P3 — ghost records appended on initial stage build
    Q("stage_ghost",
      (s, dir) => {
        val cfg = StageConfig(
          ldts = "timestampadd(DAY, cast(c_custkey % 3 as int), timestamp'2024-01-01 00:00:00')",
          rsrc = "!TPC_H/Customer",
          hashedColumns = Seq(HashColumnSpec("hk_customer_h", Seq("c_custkey"))))
        StageLoader.build(rd(s, dir, "customer"), cfg)
          .select("c_custkey", "c_name", "c_acctbal", "ldts", "rsrc", "hk_customer_h")
      },
      Some(s"""WITH $custStageSql
              |SELECT c_custkey, c_name, c_acctbal, ldts, rsrc, hk_customer_h FROM cust_stage
              |UNION ALL SELECT -1, '(unknown)', -1.0, timestamp '0001-01-01 00:00:01', 'SYSTEM', '${O.ZeroKey}'
              |UNION ALL SELECT -2, '(error)', -2.0, timestamp '8888-12-31 23:59:59', 'ERROR', '!${"f" * 32}'""".stripMargin)),

    // J4, P4 — prejoin + derived columns
    Q("stage_prejoin_derived",
      (s, dir) => {
        val cfg = StageConfig(
          ldts = "!2024-01-01 00:00:00", rsrc = "!CRM/Customer",
          hashedColumns = Seq(HashColumnSpec("hk_customer_h", Seq("c_custkey"))),
          derivedColumns = Seq(
            DerivedColumn("segment_uc", "upper(c_mktsegment)"),
            DerivedColumn("src_system", "!CRM"),
            DerivedColumn("key_concat", Seq("c_custkey", "c_nationkey"))),
          prejoins = Seq(Prejoin(rd(s, dir, "nation"),
            extract = Seq(("n_name", "nation_name")),
            on = Seq(("c_nationkey", "n_nationkey")))),
          enableGhostRecords = false)
        StageLoader.build(rd(s, dir, "customer"), cfg)
          .select("c_custkey", "nation_name", "segment_uc", "src_system", "key_concat", "hk_customer_h")
      },
      Some(s"""SELECT c_custkey, n_name AS nation_name, upper(c_mktsegment) AS segment_uc,
              |  'CRM' AS src_system,
              |  cast(c_custkey as varchar) || '||' || cast(c_nationkey as varchar) AS key_concat,
              |  ${O.hashkey("c_custkey")} AS hk_customer_h
              |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // U1, W1 — multi-source hub with earliest-wins dedup
    Q("hub_customer",
      (s, dir) => HubLoader.records(
        Seq(
          EntitySource(custStage(s, dir), Some("hk_customer_h"), Seq("c_custkey")),
          EntitySource(ordStage(s, dir), Some("hk_customer_h"), Seq("o_custkey"))),
        "hk_customer_h", Seq("custkey"), target = None),
      Some(hubCustomerSql)),

    // S5 + S6 DRIVER-VISIBLE: the write paths the read-only compare
    // otherwise can't see, exercised through a temp warehouse exactly like
    // the txlog_* queries. Batch 1 (rows before the cut) materializes the
    // hub; batch 2 replays the FULL sources against `{{ this }}` (HWM
    // filter + key anti-join) and APPENDS the delta; the final hub is then
    // rewritten as a bucketed, ldts-sorted table (the 100 TB layout) and
    // read back THROUGH the bucket metadata, semi-joined on every column
    // against the TxLogTable read. Any write path that drops, duplicates,
    // or mutates a row breaks the hash against the one-shot hub oracle.
    Q("store_roundtrip",
      (s, dir) => {
        val wh = tmpWarehouse("graft_store_rt")
        val store = new graft.runtime.TxLogTable(s, wh)
        val bucketed = new graft.runtime.Bucketed(s, wh)
        def srcs(f: DataFrame => DataFrame) = Seq(
          EntitySource(f(custStage(s, dir)), Some("hk_customer_h"), Seq("c_custkey")),
          EntitySource(f(ordStage(s, dir)), Some("hk_customer_h"), Seq("o_custkey")))
        val run1 = HubLoader.records(
          srcs(_.filter(col(LdtsAlias) < to_timestamp(lit("2024-01-03 00:00:00")))),
          "hk_customer_h", Seq("custkey"), target = None)
        store.overwrite("hub_rt", run1)
        val delta = HubLoader.records(srcs(identity),
          "hk_customer_h", Seq("custkey"), target = Some(store.read("hub_rt")))
        store.append("hub_rt", delta)
        bucketed.overwrite("graft_rt_hub_b", store.read("hub_rt"),
          "hk_customer_h", 8, LdtsAlias)
        val cols = Seq("hk_customer_h", "custkey", LdtsAlias, RsrcAlias)
        bucketed.read("graft_rt_hub_b")
          .join(store.read("hub_rt"), cols, "left_semi")
          .select(cols.map(col): _*)
      },
      Some(hubCustomerSql)),

    // link: distinct FK-hashkey combinations
    Q("link_order_customer",
      (s, dir) => {
        val st = ordStage(s, dir)
          .withColumn("hk_order_customer_l",
            Hashing.hashkey(Seq(col("o_orderkey"), col("o_custkey"))))
          .withColumn("hk_order_h", Hashing.hashkey(Seq(col("o_orderkey"))))
        LinkLoader.records(
          Seq(EntitySource(st, Some("hk_order_customer_l"), Seq("hk_order_h", "hk_customer_h"))),
          "hk_order_customer_l", Seq("hk_order_h", "hk_customer_h"), target = None)
      },
      Some(s"""WITH ord_stage AS (
              |  SELECT ${O.hashkey("o_orderkey", "o_custkey")} AS hk_order_customer_l,
              |         ${O.hashkey("o_orderkey")} AS hk_order_h,
              |         ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Orders' AS rsrc
              |  FROM orders)
              |SELECT hk_order_customer_l, hk_order_h, hk_customer_h, ldts, rsrc FROM ord_stage
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_order_customer_l ORDER BY ldts) = 1""".stripMargin)),

    // U3 — non-historized link, union-distinct strategy, with payload
    Q("nh_link_order",
      (s, dir) => {
        val st = ordStage(s, dir)
          .withColumn("hk_order_customer_l",
            Hashing.hashkey(Seq(col("o_orderkey"), col("o_custkey"))))
          .withColumn("hk_order_h", Hashing.hashkey(Seq(col("o_orderkey"))))
        NhLinkLoader.records(
          Seq(EntitySource(st, Some("hk_order_customer_l"), Seq("hk_order_h", "hk_customer_h"))),
          "hk_order_customer_l", Seq("hk_order_h", "hk_customer_h"),
          payload = Seq("o_orderstatus", "o_totalprice"), target = None, unionDistinct = true)
      },
      Some(s"""WITH ord_stage AS (
              |  SELECT ${O.hashkey("o_orderkey", "o_custkey")} AS hk_order_customer_l,
              |         ${O.hashkey("o_orderkey")} AS hk_order_h,
              |         ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         o_orderstatus, o_totalprice,
              |         timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Orders' AS rsrc
              |  FROM orders),
              |dd AS (SELECT DISTINCT hk_order_customer_l, hk_order_h, hk_customer_h,
              |       o_orderstatus, o_totalprice, ldts, rsrc FROM ord_stage)
              |SELECT * FROM dd
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_order_customer_l ORDER BY ldts) = 1""".stripMargin)),

    // W3 — sat v0 change-only dedup over 3 batches
    Q("sat_v0_customer",
      (s, dir) => SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
        Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"), target = None),
      Some(s"""WITH $satV0Sql SELECT * FROM sat_v0""".stripMargin)),

    // W4, W6 — sat v1 virtual end-dating + is_current
    Q("sat_v1_customer",
      (s, dir) => {
        val v0 = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"), target = None)
        SatV1Loader.build(v0, "hk_customer_h", Some("hd_customer_s"), addIsCurrentFlag = true)
      },
      Some(s"""WITH $satV0Sql
              |SELECT hk_customer_h, hd_customer_s, rsrc, ldts,
              |  COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') AS ledts,
              |  CASE WHEN COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') = timestamp '8888-12-31 23:59:59'
              |    THEN TRUE ELSE FALSE END AS is_current,
              |  c_name, c_acctbal_v, c_mktsegment
              |FROM sat_v0""".stripMargin)),

    // H5, A5, A6 — multi-active satellite with ordered-LISTAGG hashdiff
    Q("ma_sat_order",
      (s, dir) => {
        val src = rd(s, dir, "orders")
          .withColumn(LdtsAlias, to_timestamp(lit("2024-03-01 00:00:00")))
          .withColumn(RsrcAlias, lit("TPC_H/Orders"))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))
        val grouped = src.groupBy(col("hk_customer_h"), col(LdtsAlias))
          .agg(Hashing.maHashdiff(
            Seq(col("o_orderstatus"), col("o_totalprice")), Seq(col("o_orderkey"))).as("hd_orders_ms"))
        val staged = src.join(grouped, Seq("hk_customer_h", LdtsAlias), "left")
        MaSatV0Loader.records(staged, "hk_customer_h", "hd_orders_ms", Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice"), target = None, singleBatch = true)
      },
      Some(s"""WITH src AS (
              |  SELECT ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         timestamp '2024-03-01 00:00:00' AS ldts, 'TPC_H/Orders' AS rsrc,
              |         o_orderkey, o_orderstatus, o_totalprice
              |  FROM orders),
              |grouped AS (
              |  SELECT hk_customer_h, ldts,
              |         ${O.maHashdiff(Seq("o_orderstatus", "o_totalprice"), Seq("o_orderkey"))} AS hd_orders_ms
              |  FROM src GROUP BY hk_customer_h, ldts)
              |SELECT s.hk_customer_h, g.hd_orders_ms, s.rsrc, s.ldts,
              |       s.o_orderkey, s.o_orderstatus, s.o_totalprice
              |FROM src s LEFT JOIN grouped g
              |  ON s.hk_customer_h = g.hk_customer_h AND s.ldts = g.ldts""".stripMargin)),

    // nh_sat: insert-once earliest version per key
    Q("nh_sat_order",
      (s, dir) => {
        val src = rd(s, dir, "orders")
          .withColumn(LdtsAlias,
            expr("timestampadd(MICROSECOND, cast(o_orderkey as int), " +
              "timestampadd(DAY, cast(o_orderkey % 3 as int), timestamp'2024-01-04 00:00:00'))"))
          .withColumn(RsrcAlias, lit("TPC_H/Orders"))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))
        NhSatLoader.records(src, "hk_customer_h", Seq("o_orderkey", "o_totalprice"), target = None)
      },
      Some(s"""WITH src AS (
              |  SELECT ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY
              |           + o_orderkey * INTERVAL 1 MICROSECOND AS ldts,
              |         'TPC_H/Orders' AS rsrc, o_orderkey, o_totalprice
              |  FROM orders)
              |SELECT hk_customer_h, ldts, rsrc, o_orderkey, o_totalprice FROM src
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts) = 1""".stripMargin)),

    // J7, J8 — effectivity satellite, multi-batch history matrix
    Q("eff_sat_customer",
      (s, dir) => {
        val src = rd(s, dir, "orders")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(o_orderkey % 4 as int), timestamp'2024-04-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Orders"))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))
        EffSatLoader.records(src, "hk_customer_h", target = None)
      },
      Some(s"""WITH src AS (
              |  SELECT ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         timestamp '2024-04-01 00:00:00' + (o_orderkey % 4) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Orders' AS rsrc
              |  FROM orders),
              |hashkeys AS (SELECT hk_customer_h, MIN(ldts) AS first_appearance FROM src GROUP BY 1),
              |load_dates AS (SELECT DISTINCT ldts FROM src),
              |history AS (
              |  SELECT hk.hk_customer_h, ld.ldts FROM hashkeys hk CROSS JOIN load_dates ld
              |  WHERE ld.ldts >= hk.first_appearance),
              |is_active_cte AS (
              |  SELECT h.hk_customer_h, h.ldts,
              |         COALESCE(s.rsrc, 'SYSTEM') AS rsrc,
              |         CASE WHEN s.hk_customer_h IS NULL THEN 0 ELSE 1 END AS is_active
              |  FROM history h LEFT JOIN src s
              |    ON s.hk_customer_h = h.hk_customer_h AND s.ldts = h.ldts),
              |dedup AS (
              |  SELECT * FROM is_active_cte
              |  QUALIFY CASE WHEN is_active = LAG(is_active)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts) THEN FALSE ELSE TRUE END)
              |SELECT hk_customer_h, ldts, rsrc, cast(is_active AS boolean) AS is_active FROM dedup""".stripMargin)),

    // eff-sat additional_columns (eff_sat_v0.sql:9,37-62): payload columns
    // ride the history matrix from the matched source row, stay NULL on
    // inactive slots, and are NULLed on disappeared-key deactivation rows
    Q("eff_sat_additional_cols",
      (s, dir) => {
        val src = rd(s, dir, "orders")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(o_orderkey % 4 as int), timestamp'2024-04-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Orders"))
          .withColumn("hk_order_h", Hashing.hashkey(Seq(col("o_orderkey"))))
        EffSatLoader.records(src, "hk_order_h", target = None,
          additionalColumns = Seq("o_orderpriority", "o_orderstatus"))
      },
      Some(s"""WITH src AS (
              |  SELECT ${O.hashkey("o_orderkey")} AS hk_order_h,
              |         o_orderpriority, o_orderstatus,
              |         timestamp '2024-04-01 00:00:00' + (o_orderkey % 4) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Orders' AS rsrc
              |  FROM orders),
              |hashkeys AS (SELECT hk_order_h, MIN(ldts) AS first_appearance FROM src GROUP BY 1),
              |load_dates AS (SELECT DISTINCT ldts FROM src),
              |history AS (
              |  SELECT hk.hk_order_h, ld.ldts FROM hashkeys hk CROSS JOIN load_dates ld
              |  WHERE ld.ldts >= hk.first_appearance),
              |is_active_cte AS (
              |  SELECT h.hk_order_h, s.o_orderpriority, s.o_orderstatus, h.ldts,
              |         COALESCE(s.rsrc, 'SYSTEM') AS rsrc,
              |         CASE WHEN s.hk_order_h IS NULL THEN 0 ELSE 1 END AS is_active
              |  FROM history h LEFT JOIN src s
              |    ON s.hk_order_h = h.hk_order_h AND s.ldts = h.ldts),
              |dedup AS (
              |  SELECT * FROM is_active_cte
              |  QUALIFY CASE WHEN is_active = LAG(is_active)
              |    OVER (PARTITION BY hk_order_h ORDER BY ldts) THEN FALSE ELSE TRUE END)
              |SELECT hk_order_h, o_orderpriority, o_orderstatus, ldts, rsrc,
              |  cast(is_active AS boolean) AS is_active FROM dedup""".stripMargin)),

    // rec-track sat: one row per key appearance, multi-source, rsrc_static
    Q("rec_track_customer",
      (s, dir) => {
        val c = custStage(s, dir)
        val sup = rd(s, dir, "supplier")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(s_suppkey % 3 as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Supplier"))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("s_suppkey"))))
        RecTrackSatLoader.records(
          Seq((c, "hk_customer_h", "stage_customer", Seq("TPC_H/Customer/v1")),
            (sup, "hk_customer_h", "stage_supplier", Seq("TPC_H/Supplier/v1"))),
          "hk_tracked", target = None)
      },
      Some(s"""WITH c AS (
              |  SELECT DISTINCT ${O.hashkey("c_custkey")} AS hk_tracked,
              |    timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Customer/v1' AS rsrc, 'STAGE_CUSTOMER' AS stg
              |  FROM customer),
              |s AS (
              |  SELECT DISTINCT ${O.hashkey("s_suppkey")} AS hk_tracked,
              |    timestamp '2024-01-01 00:00:00' + (s_suppkey % 3) * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Supplier/v1' AS rsrc, 'STAGE_SUPPLIER' AS stg
              |  FROM supplier)
              |SELECT * FROM c UNION ALL SELECT * FROM s""".stripMargin)),

    // rec-track incremental: the multi-column (hk, ldts, rsrc) anti-join —
    // the reference's NOT IN on CONCAT(hk, ldts, rsrc)
    // (rec_track_sat.sql:228-237) — actually drops already-tracked
    // appearances; disableHwm re-feeds the full source so the anti-join,
    // not the watermark, does the work.
    Q("rec_track_incremental",
      (s, dir) => {
        val c = custStage(s, dir)
        val full = RecTrackSatLoader.records(
          Seq((c, "hk_customer_h", "stage_customer", Seq("TPC_H/Customer/v1"))),
          "hk_tracked", target = None)
        val target = full.filter(col(LdtsAlias) <= to_timestamp(lit("2024-01-02 00:00:00")))
        RecTrackSatLoader.records(
          Seq((c, "hk_customer_h", "stage_customer", Seq("TPC_H/Customer/v1"))),
          "hk_tracked", target = Some(target), disableHwm = true)
      },
      Some(s"""WITH c AS (
              |  SELECT DISTINCT ${O.hashkey("c_custkey")} AS hk_tracked,
              |    timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Customer/v1' AS rsrc, 'STAGE_CUSTOMER' AS stg
              |  FROM customer),
              |target AS (SELECT * FROM c WHERE ldts <= timestamp '2024-01-02 00:00:00')
              |SELECT c.* FROM c WHERE NOT EXISTS (
              |  SELECT 1 FROM target t
              |  WHERE t.hk_tracked = c.hk_tracked AND t.ldts = c.ldts AND t.rsrc = c.rsrc)""".stripMargin)),

    // rec-track with a LIST of rsrc_static patterns: one stamped row-set
    // per pattern, each with its own watermark (rec_track_sat.sql:142-162)
    Q("rec_track_multi_pattern",
      (s, dir) => {
        val c = custStage(s, dir)
        RecTrackSatLoader.records(
          Seq((c, "hk_customer_h", "stage_customer",
            Seq("TPC_H/Customer/A%", "TPC_H/Customer/B%"))),
          "hk_tracked", target = None)
      },
      Some(s"""SELECT DISTINCT ${O.hashkey("c_custkey")} AS hk_tracked,
              |  timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |  'TPC_H/Customer/A%' AS rsrc, 'STAGE_CUSTOMER' AS stg
              |FROM customer
              |UNION ALL
              |SELECT DISTINCT ${O.hashkey("c_custkey")},
              |  timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY,
              |  'TPC_H/Customer/B%', 'STAGE_CUSTOMER'
              |FROM customer""".stripMargin)),

    // ref hub: earliest row per ref-key combination
    Q("ref_hub_nation",
      (s, dir) => {
        val n = rd(s, dir, "nation")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(n_nationkey % 2 as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Nation"))
        RefHubLoader.records(Seq(EntitySource(n, None, Seq("n_nationkey"))),
          Seq("n_nationkey"), target = None)
      },
      Some(s"""SELECT n_nationkey,
              |  timestamp '2024-01-01 00:00:00' + (n_nationkey % 2) * INTERVAL 1 DAY AS ldts,
              |  'TPC_H/Nation' AS rsrc
              |FROM nation
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY n_nationkey ORDER BY
              |  timestamp '2024-01-01 00:00:00' + (n_nationkey % 2) * INTERVAL 1 DAY) = 1""".stripMargin)),

    // ref sat v0: multi-column-key satellite (2 batches, %3 keys change)
    Q("ref_sat_nation",
      (s, dir) => {
        val src = rd(s, dir, "nation")
          .crossJoin(s.range(2).select(col("id").as("b")))
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(b as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Nation"))
          .withColumn("n_name_v",
            when(col("b") === 1 && col("n_nationkey") % 3 === 0,
              concat(col("n_name"), lit("_v2"))).otherwise(col("n_name")))
          .withColumn("hd_nation_rs", Hashing.hashdiff(Seq(col("n_name_v"), col("n_regionkey"))))
        SatV0Loader.records(src, Seq("n_nationkey"), Some("hd_nation_rs"),
          Seq("n_name_v", "n_regionkey"), target = None)
      },
      Some(s"""WITH src AS (
              |  SELECT n_nationkey, n_regionkey,
              |    timestamp '2024-01-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Nation' AS rsrc,
              |    CASE WHEN b = 1 AND n_nationkey % 3 = 0 THEN n_name || '_v2' ELSE n_name END AS n_name_v
              |  FROM nation CROSS JOIN (VALUES (0),(1)) AS batches(b)),
              |hashed AS (SELECT *, ${O.hashdiff("n_name_v", "n_regionkey")} AS hd_nation_rs FROM src)
              |SELECT n_nationkey, hd_nation_rs, rsrc, ldts, n_name_v, n_regionkey FROM hashed
              |QUALIFY CASE WHEN hd_nation_rs = LAG(hd_nation_rs)
              |  OVER (PARTITION BY n_nationkey ORDER BY ldts) THEN FALSE ELSE TRUE END""".stripMargin)),

    // ref table: date-spine flattened view (U5 + temporal join)
    Q("ref_table_nation",
      (s, dir) => {
        val src = rd(s, dir, "nation")
          .crossJoin(s.range(2).select(col("id").as("b")))
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(b as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Nation"))
          .withColumn("n_name_v",
            when(col("b") === 1 && col("n_nationkey") % 3 === 0,
              concat(col("n_name"), lit("_v2"))).otherwise(col("n_name")))
          .withColumn("hd_nation_rs", Hashing.hashdiff(Seq(col("n_name_v"), col("n_regionkey"))))
        val v0 = SatV0Loader.records(src, Seq("n_nationkey"), Some("hd_nation_rs"),
          Seq("n_name_v", "n_regionkey"), target = None)
        val v1 = Ops.endDate(v0, "n_nationkey")
        val hub = RefHubLoader.records(
          Seq(EntitySource(src.filter(col("b") === 0), None, Seq("n_nationkey"))),
          Seq("n_nationkey"), target = None)
        RefTableLoader.build(hub, Seq("n_nationkey"),
          Seq(RefTableLoader.RefSat(v1, Seq("n_name_v", "n_regionkey"))))
      },
      Some(s"""WITH src AS (
              |  SELECT n_nationkey, n_regionkey,
              |    timestamp '2024-01-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Nation' AS rsrc,
              |    CASE WHEN b = 1 AND n_nationkey % 3 = 0 THEN n_name || '_v2' ELSE n_name END AS n_name_v
              |  FROM nation CROSS JOIN (VALUES (0),(1)) AS batches(b)),
              |hashed AS (SELECT *, ${O.hashdiff("n_name_v", "n_regionkey")} AS hd_nation_rs FROM src),
              |sat_v0 AS (
              |  SELECT n_nationkey, hd_nation_rs, rsrc, ldts, n_name_v, n_regionkey FROM hashed
              |  QUALIFY CASE WHEN hd_nation_rs = LAG(hd_nation_rs)
              |    OVER (PARTITION BY n_nationkey ORDER BY ldts) THEN FALSE ELSE TRUE END),
              |sat_v1 AS (
              |  SELECT *, COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY n_nationkey ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') AS ledts FROM sat_v0),
              |hub AS (
              |  SELECT n_nationkey, timestamp '2024-01-01 00:00:00' AS ldts, 'TPC_H/Nation' AS rsrc
              |  FROM nation
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY n_nationkey ORDER BY 1) = 1),
              |dates AS (SELECT DISTINCT ldts FROM sat_v1 WHERE ldts != timestamp '8888-12-31 23:59:59')
              |SELECT h.n_nationkey, d.ldts, h.rsrc, s.n_name_v, s.n_regionkey
              |FROM hub h CROSS JOIN dates d
              |LEFT JOIN sat_v1 s ON s.n_nationkey = h.n_nationkey
              |  AND d.ldts BETWEEN s.ldts AND s.ledts
              |WHERE h.ldts <= d.ldts""".stripMargin)),

    // ref_table historized='snapshot' (ref_table.sql:71-85): the date spine
    // is the ACTIVE snapshot set, not the satellites' load dates; built via
    // the YAML front end (ref keys derived from the hub, per-sat include)
    Q("ref_table_snapshot",
      (s, dir) => {
        val src = rd(s, dir, "nation")
          .crossJoin(s.range(2).select(col("id").as("b")))
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(b as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Nation"))
          .withColumn("n_name_v",
            when(col("b") === 1 && col("n_nationkey") % 3 === 0,
              concat(col("n_name"), lit("_v2"))).otherwise(col("n_name")))
          .withColumn("hd_nation_rs", Hashing.hashdiff(Seq(col("n_name_v"), col("n_regionkey"))))
        val v0 = SatV0Loader.records(src, Seq("n_nationkey"), Some("hd_nation_rs"),
          Seq("n_name_v", "n_regionkey"), target = None)
        val v1 = Ops.endDate(v0, "n_nationkey")
        val hub = RefHubLoader.records(
          Seq(EntitySource(src.filter(col("b") === 0), None, Seq("n_nationkey"))),
          Seq("n_nationkey"), target = None)
        val snaps = ControlSnapV0Loader.build(s, "2024-01-01", "18:00:00", Some("2024-01-04"))
          .withColumn("is_active", lit(true))
        val built = Map("nation_hub" -> hub, "nation_rs" -> v1, "snap" -> snaps)
        graft.meta.MetadataBuilders.refTable(
          """ref_hub: nation_hub
            |ref_satellites:
            |  nation_rs:
            |    include: [n_name_v, n_regionkey]
            |historized: snapshot
            |snapshot_relation: snap
            |""".stripMargin, built)
      },
      Some(s"""WITH src AS (
              |  SELECT n_nationkey, n_regionkey,
              |    timestamp '2024-01-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Nation' AS rsrc,
              |    CASE WHEN b = 1 AND n_nationkey % 3 = 0 THEN n_name || '_v2' ELSE n_name END AS n_name_v
              |  FROM nation CROSS JOIN (VALUES (0),(1)) AS batches(b)),
              |hashed AS (SELECT *, ${O.hashdiff("n_name_v", "n_regionkey")} AS hd_nation_rs FROM src),
              |sat_v0 AS (
              |  SELECT n_nationkey, hd_nation_rs, rsrc, ldts, n_name_v, n_regionkey FROM hashed
              |  QUALIFY CASE WHEN hd_nation_rs = LAG(hd_nation_rs)
              |    OVER (PARTITION BY n_nationkey ORDER BY ldts) THEN FALSE ELSE TRUE END),
              |sat_v1 AS (
              |  SELECT *, COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY n_nationkey ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') AS ledts FROM sat_v0),
              |hub AS (
              |  SELECT n_nationkey, timestamp '2024-01-01 00:00:00' AS ldts, 'TPC_H/Nation' AS rsrc
              |  FROM nation
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY n_nationkey ORDER BY 1) = 1),
              |snaps AS (
              |  SELECT unnest(generate_series(timestamp '2024-01-01 18:00:00',
              |    timestamp '2024-01-05 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts)
              |SELECT h.n_nationkey, d.sdts, h.rsrc, s.n_name_v, s.n_regionkey
              |FROM hub h
              |CROSS JOIN (SELECT sdts FROM snaps WHERE sdts < timestamp '2024-01-05 00:00:00') d
              |LEFT JOIN sat_v1 s ON s.n_nationkey = h.n_nationkey
              |  AND d.sdts BETWEEN s.ldts AND s.ledts
              |WHERE h.ldts <= d.sdts""".stripMargin)),

    // snapshot control v0: generated series + calendar flags
    Q("snap_v0",
      (s, _) => ControlSnapV0Loader.build(s, "2024-01-01", "07:30:00", Some("2024-03-31")),
      Some(s"""WITH series AS (
              |  SELECT unnest(generate_series(timestamp '2024-01-01 07:30:00',
              |    timestamp '2024-04-01 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS s
              |)
              |SELECT s AS sdts, TRUE AS force_active, s AS replacement_sdts,
              |  'Snapshot ' || cast(cast(s AS date) AS varchar) AS caption,
              |  (minute(s) = 0 AND second(s) = 0) AS is_hourly,
              |  (minute(s) = 0 AND second(s) = 0 AND hour(s) = 0) AS is_daily,
              |  (isodow(s) = 1) AS is_beginning_of_week,
              |  (isodow(s) = 7) AS is_end_of_week,
              |  (day(s) = 1) AS is_beginning_of_month,
              |  (last_day(cast(s AS date)) = cast(s AS date)) AS is_end_of_month,
              |  (day(s) = 1 AND month(s) IN (1,4,7,10)) AS is_beginning_of_quarter,
              |  (month(s) IN (3,6,9,12) AND day(s) = day(last_day(cast(s AS date)))) AS is_end_of_quarter,
              |  (day(s) = 1 AND month(s) = 1) AS is_beginning_of_year,
              |  (last_day(cast(s AS date)) = cast(s AS date) AND month(s) = 12) AS is_end_of_year,
              |  cast(NULL AS varchar) AS comment
              |FROM series WHERE s < timestamp '2024-04-01 00:00:00'""".stripMargin)),

    // snapshot control v1: logarithmic retention flags (fixed reference ts)
    Q("snap_v1",
      (s, _) => {
        val v0 = ControlSnapV0Loader.build(s, "2024-01-01", "07:30:00", Some("2024-03-31"))
        ControlSnapV1Loader.build(v0,
          Some(LogLogic(dailyDays = Some(30), weeklyWeeks = Some(8),
            monthlyMonths = Some(12), yearlyYears = None)),
          referenceTs = Some("2024-03-31 12:00:00"))
          .select("sdts", "is_active", "is_beginning_of_week", "is_beginning_of_month")
      },
      Some(s"""WITH series AS (
              |  SELECT unnest(generate_series(timestamp '2024-01-01 07:30:00',
              |    timestamp '2024-04-01 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts
              |),
              |flags AS (
              |  SELECT sdts, (isodow(sdts) = 1) AS is_beginning_of_week,
              |         (day(sdts) = 1) AS is_beginning_of_month,
              |         (day(sdts) = 1 AND month(sdts) = 1) AS is_beginning_of_year
              |  FROM series WHERE sdts < timestamp '2024-04-01 00:00:00')
              |SELECT sdts,
              |  ((sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 30 DAY AND timestamp '2024-03-31 12:00:00')
              |   OR (is_beginning_of_week AND sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 56 DAY AND timestamp '2024-03-31 12:00:00')
              |   OR (is_beginning_of_month AND sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 12 MONTH AND timestamp '2024-03-31 12:00:00')
              |   OR is_beginning_of_year) AS is_active,
              |  is_beginning_of_week, is_beginning_of_month
              |FROM flags""".stripMargin)),

    // snapshot control v1, full log_logic parity: a LIST of configs yields
    // one trigger column each, with per-interval `forever` flags and
    // arbitrary duration units (control_snap_v1.sql:4-18,100-148)
    Q("snap_v1_multi",
      (s, _) => {
        val v0 = ControlSnapV0Loader.build(s, "2024-01-01", "07:30:00", Some("2024-03-31"))
        ControlSnapV1Loader.buildMulti(v0, Seq(
          SnapshotTrigger("is_active_fine",
            daily = Some(IntervalLogic(1, "MONTH")),
            yearly = Some(IntervalLogic.forever)),
          SnapshotTrigger("is_active_coarse",
            weekly = Some(IntervalLogic(2, "MONTH")),
            monthly = Some(IntervalLogic(1, "YEAR")))),
          referenceTs = Some("2024-03-31 12:00:00"))
          .select("sdts", "is_active_fine", "is_active_coarse", "is_latest", "is_rolling_year")
      },
      Some(s"""WITH series AS (
              |  SELECT unnest(generate_series(timestamp '2024-01-01 07:30:00',
              |    timestamp '2024-04-01 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts
              |), bounded AS (SELECT sdts FROM series WHERE sdts < timestamp '2024-04-01 00:00:00')
              |SELECT sdts,
              |  ((sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 1 MONTH AND timestamp '2024-03-31 12:00:00')
              |   OR (day(sdts) = 1 AND month(sdts) = 1)) AS is_active_fine,
              |  ((isodow(sdts) = 1 AND sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 2 MONTH AND timestamp '2024-03-31 12:00:00')
              |   OR (day(sdts) = 1 AND sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 1 YEAR AND timestamp '2024-03-31 12:00:00')) AS is_active_coarse,
              |  (sdts = (SELECT max(sdts) FROM bounded)) AS is_latest,
              |  (sdts BETWEEN timestamp '2024-03-31 12:00:00' - INTERVAL 1 YEAR AND timestamp '2024-03-31 12:00:00') AS is_rolling_year
              |FROM bounded""".stripMargin)),

    // J5, J6 — PIT: entity × snapshot with point-in-time satellite pointers
    Q("pit_customer",
      (s, dir) => {
        val v0 = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"), target = None)
        val v1 = SatV1Loader.build(v0, "hk_customer_h", Some("hd_customer_s"))
        val hub = custStage(s, dir).select("hk_customer_h").distinct()
        val snaps = ControlSnapV0Loader.build(s, "2024-02-01", "12:00:00", Some("2024-02-07"))
          .withColumn("is_active", lit(true))
        PitLoader.records(hub, "hk_customer_h",
          Seq(PitSatellite("customer_s", v1)), snaps, "dim_key_customer")
      },
      Some(pitCustomerSql)),

    // pit.sql:108-114 + snowflake/pit.sql:29-70 — INCREMENTAL PIT,
    // driver-visible: run 1 materializes the first 3 snapshots, run 2
    // extends the spine to all 7 with `target` + snapshot_optimization
    // (only relevant snapshots rebuilt, dimension-key anti-join restricted
    // to them), and target ∪ delta must byte-equal the one-shot PIT —
    // same oracle as `pit_customer`.
    Q("pit_incremental",
      (s, dir) => {
        val v0 = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"), target = None)
        val v1 = SatV1Loader.build(v0, "hk_customer_h", Some("hd_customer_s"))
        val hub = custStage(s, dir).select("hk_customer_h").distinct()
        def spine(endDay: String) = ControlSnapV0Loader
          .build(s, "2024-02-01", "12:00:00", Some(endDay))
          .withColumn("is_active", lit(true))
        val sats = Seq(PitSatellite("customer_s", v1))
        val run1 = PitLoader.records(hub, "hk_customer_h", sats,
          spine("2024-02-03"), "dim_key_customer")
        val delta = PitLoader.records(hub, "hk_customer_h", sats,
          spine("2024-02-07"), "dim_key_customer",
          target = Some(run1), snapshotOptimization = true)
        run1.unionByName(delta)
      },
      Some(pitCustomerSql)),

    // J5/J6 with SEVERAL satellites: one v1 sat + one v0 sat end-dated
    // inline by the PIT (pit.sql:90-96), present only for even custkeys so
    // the ghost-record pointers (zero key / beginning-of-all-times) are
    // actually produced for the odd ones.
    Q("pit_multisat",
      (s, dir) => {
        val v0 = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"), target = None)
        val v1 = SatV1Loader.build(v0, "hk_customer_h", Some("hd_customer_s"))
        val addr = custStage(s, dir).filter(col("c_custkey") % 2 === 0)
          .select(col("hk_customer_h"), col(LdtsAlias))
        val hub = custStage(s, dir).select("hk_customer_h").distinct()
        val snaps = ControlSnapV0Loader.build(s, "2024-02-01", "12:00:00", Some("2024-02-07"))
          .withColumn("is_active", lit(true))
        PitLoader.records(hub, "hk_customer_h",
          Seq(PitSatellite("customer_s", v1),
            PitSatellite("address_s", addr, hasLedts = false)),
          snaps, "dim_key_customer")
      },
      Some(s"""WITH $satV0Sql,
              |sat_v1 AS (
              |  SELECT *, COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') AS ledts FROM sat_v0),
              |addr AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk_customer_h,
              |    timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |    COALESCE(LEAD(timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY
              |        - INTERVAL 1 MICROSECOND)
              |      OVER (PARTITION BY ${O.hashkey("c_custkey")} ORDER BY
              |        timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY),
              |      timestamp '8888-12-31 23:59:59') AS ledts
              |  FROM customer WHERE c_custkey % 2 = 0),
              |hub AS (SELECT DISTINCT hk_customer_h FROM hashed),
              |snaps AS (
              |  SELECT unnest(generate_series(timestamp '2024-02-01 12:00:00',
              |    timestamp '2024-02-08 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts),
              |pit AS (
              |  SELECT ${O.hashkey("te.hk_customer_h", "snap.sdts")} AS dim_key_customer,
              |    te.hk_customer_h, snap.sdts,
              |    COALESCE(s1.hk_customer_h, '${O.ZeroKey}') AS hk_customer_s,
              |    COALESCE(s1.ldts, timestamp '0001-01-01 00:00:01') AS ldts_customer_s,
              |    COALESCE(s2.hk_customer_h, '${O.ZeroKey}') AS hk_address_s,
              |    COALESCE(s2.ldts, timestamp '0001-01-01 00:00:01') AS ldts_address_s
              |  FROM hub te CROSS JOIN snaps snap
              |  LEFT JOIN sat_v1 s1 ON s1.hk_customer_h = te.hk_customer_h
              |    AND snap.sdts BETWEEN s1.ldts AND s1.ledts
              |  LEFT JOIN addr s2 ON s2.hk_customer_h = te.hk_customer_h
              |    AND snap.sdts BETWEEN s2.ldts AND s2.ledts)
              |SELECT DISTINCT * FROM pit""".stripMargin)),

    // BRIDGE (Data Vault query-assistance sibling of the PIT, built from
    // the same snapshot-spine machinery; the reference ships PIT only and
    // its users assemble bridges by hand from hub+link+snaps): grain =
    // snapshot × link instance alive as-of that snapshot, so a BI query
    // walks hub→link→hub with ONE equi-join instead of re-running the
    // as-of logic. The spine is tiny (broadcast-NLJ on ldts <= sdts —
    // bounded by #links × #snapshots, the result's own cardinality, same
    // shape as the eff-sat history matrix); the per-(customer, snapshot)
    // order count is a window partitioned by the bridge's own grain.
    // Dimension key = hash(hk, sdts) exactly like the PIT (pit.sql:23-28).
    Q("bridge_order_customer",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val link = {
          val st = ordStage(s, dir)
            .withColumn("hk_order_customer_l",
              Hashing.hashkey(Seq(col("o_orderkey"), col("o_custkey"))))
            .withColumn("hk_order_h", Hashing.hashkey(Seq(col("o_orderkey"))))
          LinkLoader.records(
            Seq(EntitySource(st, Some("hk_order_customer_l"), Seq("hk_order_h", "hk_customer_h"))),
            "hk_order_customer_l", Seq("hk_order_h", "hk_customer_h"), target = None)
        }
        val snaps = ControlSnapV0Loader
          .build(s, "2024-01-04", "12:00:00", Some("2024-01-06"))
          .select("sdts")
        val alive = link.join(broadcast(snaps), col(LdtsAlias) <= col("sdts"))
        alive
          .withColumn("n_orders_asof",
            count(lit(1)).over(Window.partitionBy("hk_customer_h", "sdts")))
          .select(
            Hashing.hashkey(Seq(col("hk_customer_h"), col("sdts")))
              .as("dim_key_customer"),
            col("sdts"), col("hk_customer_h"), col("hk_order_h"),
            col("hk_order_customer_l"), col("n_orders_asof"))
      },
      Some(s"""WITH link AS (
              |  SELECT ${O.hashkey("o_orderkey", "o_custkey")} AS hk_order_customer_l,
              |         ${O.hashkey("o_orderkey")} AS hk_order_h,
              |         ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY AS ldts
              |  FROM orders
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ${O.hashkey("o_orderkey", "o_custkey")}
              |    ORDER BY timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY) = 1),
              |snaps AS (
              |  SELECT unnest(generate_series(timestamp '2024-01-04 12:00:00',
              |    timestamp '2024-01-07 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts),
              |b AS (
              |  SELECT l.*, s.sdts FROM link l JOIN snaps s ON l.ldts <= s.sdts)
              |SELECT ${O.hashkey("hk_customer_h", "sdts")} AS dim_key_customer,
              |  sdts, hk_customer_h, hk_order_h, hk_order_customer_l,
              |  count(*) OVER (PARTITION BY hk_customer_h, sdts) AS n_orders_asof
              |FROM b""".stripMargin)),

    // U5 with several satellites: the ref_table date spine is the UNION of
    // DISTINCT load dates across ALL ref sats (ref_table.sql:56-68), each
    // sat temporally joined onto the shared spine.
    Q("ref_table_multi",
      (s, dir) => {
        def natSrc(changeDay: Int, mod: Int, suffix: String, colName: String) =
          rd(s, dir, "nation")
            .crossJoin(s.range(2).select(col("id").as("b")))
            .withColumn(LdtsAlias,
              expr(s"timestampadd(DAY, cast(b * $changeDay as int), timestamp'2024-01-01 00:00:00')"))
            .withColumn(RsrcAlias, lit("TPC_H/Nation"))
            .withColumn(colName,
              when(col("b") === 1 && col("n_nationkey") % mod === 0,
                concat(col("n_name"), lit(suffix))).otherwise(col("n_name")))
            .withColumn("hd", Hashing.hashdiff(Seq(col(colName))))
        val v0a = SatV0Loader.records(natSrc(1, 3, "_v2", "n_name_v"),
          Seq("n_nationkey"), Some("hd"), Seq("n_name_v"), target = None)
        val v0b = SatV0Loader.records(natSrc(2, 2, "_alt", "n_alias_v"),
          Seq("n_nationkey"), Some("hd"), Seq("n_alias_v"), target = None)
        val hub = rd(s, dir, "nation")
          .withColumn(LdtsAlias, to_timestamp(lit("2024-01-01 00:00:00")))
          .withColumn(RsrcAlias, lit("TPC_H/Nation"))
          .select("n_nationkey", LdtsAlias, RsrcAlias)
        RefTableLoader.build(hub, Seq("n_nationkey"),
          Seq(RefTableLoader.RefSat(Ops.endDate(v0a, "n_nationkey"), Seq("n_name_v")),
            RefTableLoader.RefSat(Ops.endDate(v0b, "n_nationkey"), Seq("n_alias_v"))))
      },
      Some(s"""WITH satA AS (
              |  SELECT n_nationkey, ldts, n_name_v,
              |    COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |      OVER (PARTITION BY n_nationkey ORDER BY ldts),
              |      timestamp '8888-12-31 23:59:59') AS ledts
              |  FROM (
              |    SELECT n_nationkey,
              |      timestamp '2024-01-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
              |      CASE WHEN b = 1 AND n_nationkey % 3 = 0 THEN n_name || '_v2' ELSE n_name END AS n_name_v,
              |      ${O.hashdiff("CASE WHEN b = 1 AND n_nationkey % 3 = 0 THEN n_name || '_v2' ELSE n_name END")} AS hd
              |    FROM nation CROSS JOIN (VALUES (0),(1)) AS batches(b)
              |    QUALIFY CASE WHEN hd = LAG(hd)
              |      OVER (PARTITION BY n_nationkey ORDER BY b) THEN FALSE ELSE TRUE END)),
              |satB AS (
              |  SELECT n_nationkey, ldts, n_alias_v,
              |    COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |      OVER (PARTITION BY n_nationkey ORDER BY ldts),
              |      timestamp '8888-12-31 23:59:59') AS ledts
              |  FROM (
              |    SELECT n_nationkey,
              |      timestamp '2024-01-01 00:00:00' + b * 2 * INTERVAL 1 DAY AS ldts,
              |      CASE WHEN b = 1 AND n_nationkey % 2 = 0 THEN n_name || '_alt' ELSE n_name END AS n_alias_v,
              |      ${O.hashdiff("CASE WHEN b = 1 AND n_nationkey % 2 = 0 THEN n_name || '_alt' ELSE n_name END")} AS hd
              |    FROM nation CROSS JOIN (VALUES (0),(1)) AS batches(b)
              |    QUALIFY CASE WHEN hd = LAG(hd)
              |      OVER (PARTITION BY n_nationkey ORDER BY b) THEN FALSE ELSE TRUE END)),
              |spine AS (
              |  SELECT DISTINCT ldts FROM (
              |    SELECT ldts FROM satA WHERE ldts != timestamp '8888-12-31 23:59:59'
              |    UNION SELECT ldts FROM satB WHERE ldts != timestamp '8888-12-31 23:59:59')),
              |hub AS (
              |  SELECT n_nationkey, timestamp '2024-01-01 00:00:00' AS hub_ldts,
              |    'TPC_H/Nation' AS rsrc
              |  FROM nation)
              |SELECT h.n_nationkey, d.ldts, h.rsrc, a.n_name_v, b.n_alias_v
              |FROM hub h CROSS JOIN spine d
              |LEFT JOIN satA a ON a.n_nationkey = h.n_nationkey AND d.ldts BETWEEN a.ldts AND a.ledts
              |LEFT JOIN satB b ON b.n_nationkey = h.n_nationkey AND d.ldts BETWEEN b.ldts AND b.ledts
              |WHERE h.hub_ldts <= d.ldts""".stripMargin)),

    // P6, A2, S3, J1 — incremental hub load against an existing target
    Q("hub_incremental",
      (s, dir) => {
        val full = custStage(s, dir)
          .select(col("hk_customer_h"), col("c_custkey").as("custkey"),
            col(LdtsAlias), col(RsrcAlias))
        val target = full.filter(col(LdtsAlias) <= to_timestamp(lit("2024-01-02 00:00:00")))
        HubLoader.records(
          Seq(EntitySource(custStage(s, dir), Some("hk_customer_h"), Seq("c_custkey"))),
          "hk_customer_h", Seq("custkey"), target = Some(target))
      },
      Some(s"""WITH $custStageSql,
              |full_hub AS (
              |  SELECT hk_customer_h, c_custkey AS custkey, ldts, rsrc FROM cust_stage),
              |target AS (SELECT * FROM full_hub WHERE ldts <= timestamp '2024-01-02 00:00:00'),
              |hwm AS (SELECT MAX(ldts) AS m FROM target WHERE ldts != timestamp '8888-12-31 23:59:59'),
              |incoming AS (
              |  SELECT f.* FROM full_hub f, hwm WHERE f.ldts > hwm.m),
              |dedup AS (
              |  SELECT * FROM incoming
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts) = 1)
              |SELECT d.* FROM dedup d WHERE NOT EXISTS (
              |  SELECT 1 FROM target t WHERE t.hk_customer_h = d.hk_customer_h)""".stripMargin)),

    // J3, A1, P8 — per-rsrc_static HWM with LIKE pattern
    Q("hub_rsrc_static",
      (s, dir) => {
        val full = custStage(s, dir)
          .withColumn(RsrcAlias, concat(lit("TPC_H/Customer/"),
            date_format(col(LdtsAlias), "yyyy-MM-dd")))
          .select(col("hk_customer_h"), col("c_custkey").as("custkey"),
            col(LdtsAlias), col(RsrcAlias))
        val target = full.filter(col(LdtsAlias) <= to_timestamp(lit("2024-01-02 00:00:00")))
        HubLoader.records(
          Seq(EntitySource(full, Some("hk_customer_h"), Seq("custkey"),
            rsrcStatic = Some("TPC_H/Customer/%"))),
          "hk_customer_h", Seq("custkey"), target = Some(target))
      },
      Some(s"""WITH $custStageSql,
              |full_hub AS (
              |  SELECT hk_customer_h, c_custkey AS custkey, ldts,
              |         'TPC_H/Customer/' || strftime(ldts, '%Y-%m-%d') AS rsrc
              |  FROM cust_stage),
              |target AS (SELECT * FROM full_hub WHERE ldts <= timestamp '2024-01-02 00:00:00'),
              |hwm AS (SELECT MAX(ldts) AS m FROM target
              |        WHERE rsrc LIKE 'TPC_H/Customer/%' AND ldts != timestamp '8888-12-31 23:59:59'),
              |incoming AS (SELECT f.* FROM full_hub f, hwm WHERE f.ldts > hwm.m),
              |dedup AS (
              |  SELECT * FROM incoming
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts) = 1)
              |SELECT d.* FROM dedup d WHERE NOT EXISTS (
              |  SELECT 1 FROM target t WHERE t.hk_customer_h = d.hk_customer_h)""".stripMargin)),

    // J2, W2, W5 — incremental sat v0: NOT-EXISTS rn=1 vs target latest
    // (sat_v0.sql:131-142). Fixture: 3 batches; %5 keys change at b1 and
    // keep the new value; %2 keys change at b2. Target = batches 0-1, so the
    // delta is batch 2 and the NOT EXISTS must drop every odd custkey (its
    // b2 value equals the target's latest hashdiff).
    Q("sat_v0_incremental",
      (s, dir) => {
        val src = custIncSource(s, dir)
        val payload = Seq("c_name", "c_acctbal_v", "c_mktsegment")
        val target = SatV0Loader.records(src.filter(col("b") <= 1), Seq("hk_customer_h"),
          Some("hd_customer_s"), payload, target = None)
        SatV0Loader.records(src, Seq("hk_customer_h"), Some("hd_customer_s"), payload,
          target = Some(target))
      },
      Some(s"""WITH $custIncSql,
              |target AS (
              |  SELECT hk_customer_h, hd_customer_s, rsrc, ldts, c_name, c_acctbal_v, c_mktsegment
              |  FROM hashed WHERE b <= 1
              |  QUALIFY CASE WHEN hd_customer_s = LAG(hd_customer_s)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts) THEN FALSE ELSE TRUE END),
              |hwm AS (SELECT MAX(ldts) AS m FROM target WHERE ldts != timestamp '8888-12-31 23:59:59'),
              |inc AS (SELECT h.* FROM hashed h, hwm WHERE h.ldts > hwm.m),
              |dd AS (
              |  SELECT * FROM inc
              |  QUALIFY CASE WHEN hd_customer_s = LAG(hd_customer_s)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts) THEN FALSE ELSE TRUE END),
              |numbered AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts) AS rn FROM dd),
              |latest AS (
              |  SELECT hk_customer_h, hd_customer_s FROM target
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts DESC) = 1)
              |SELECT n.hk_customer_h, n.hd_customer_s, n.rsrc, n.ldts,
              |       n.c_name, n.c_acctbal_v, n.c_mktsegment
              |FROM numbered n LEFT JOIN latest l
              |  ON n.hk_customer_h = l.hk_customer_h AND n.hd_customer_s = l.hd_customer_s
              |WHERE l.hk_customer_h IS NULL OR n.rn != 1""".stripMargin)),

    // J10, U4 — eff sat single-batch mode: activate new keys, deactivate
    // disappeared ones (eff_sat_v0.sql:174-264). Source day 1 = keys %4!=0,
    // day 2 = keys %3!=0: expect activations for (%4=0 ∧ %3!=0) and SYSTEM
    // deactivations for (%4!=0 ∧ %3=0).
    Q("eff_sat_single_batch",
      (s, dir) => {
        def src(mod: Int, ts: String) = rd(s, dir, "customer")
          .filter(col("c_custkey") % mod =!= 0)
          .withColumn(LdtsAlias, to_timestamp(lit(ts)))
          .withColumn(RsrcAlias, lit("TPC_H/Customer"))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
        val target = EffSatLoader.records(src(4, "2024-06-01 00:00:00"), "hk_customer_h",
          target = None, singleBatch = true)
        EffSatLoader.records(src(3, "2024-06-02 00:00:00"), "hk_customer_h",
          target = Some(target), singleBatch = true)
      },
      Some(s"""WITH day1 AS (
              |  SELECT DISTINCT ${O.hashkey("c_custkey")} AS hk_customer_h,
              |    timestamp '2024-06-01 00:00:00' AS ldts, 'TPC_H/Customer' AS rsrc
              |  FROM customer WHERE c_custkey % 4 != 0),
              |day2 AS (
              |  SELECT DISTINCT ${O.hashkey("c_custkey")} AS hk_customer_h,
              |    timestamp '2024-06-02 00:00:00' AS ldts, 'TPC_H/Customer' AS rsrc
              |  FROM customer WHERE c_custkey % 3 != 0),
              |new_keys AS (
              |  SELECT hk_customer_h, ldts, rsrc, TRUE AS is_active FROM day2
              |  WHERE hk_customer_h NOT IN (SELECT hk_customer_h FROM day1)),
              |disappeared AS (
              |  SELECT hk_customer_h, timestamp '2024-06-02 00:00:00' AS ldts,
              |         'SYSTEM' AS rsrc, FALSE AS is_active FROM day1
              |  WHERE hk_customer_h NOT IN (SELECT hk_customer_h FROM day2))
              |SELECT DISTINCT * FROM (
              |  SELECT * FROM new_keys UNION ALL SELECT * FROM disappeared)""".stripMargin)),

    // eff_sat_v0.sql multi-batch INCREMENTAL: history matrix over the delta,
    // status-change dedup, exclusion vs current_status (the NOT-EXISTS that
    // silently dropped brand-new keys in r1), disappeared-key deactivation,
    // union distinct, final (hk, ldts) anti-join. Day 0 = %4 keys absent;
    // delta day 1 = %3 absent, day 2 = %5 absent.
    Q("eff_sat_incremental",
      (s, dir) => {
        def src(mod: Int, ts: String) = rd(s, dir, "customer")
          .filter(col("c_custkey") % mod =!= 0)
          .withColumn(LdtsAlias, to_timestamp(lit(ts)))
          .withColumn(RsrcAlias, lit("TPC_H/Customer"))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
        val target = EffSatLoader.records(src(4, "2024-07-01 00:00:00"), "hk_customer_h",
          target = None)
          .localCheckpoint() // the materialized table an incremental load reads
        val delta = src(3, "2024-07-02 00:00:00").unionByName(src(5, "2024-07-03 00:00:00"))
        EffSatLoader.records(delta, "hk_customer_h", target = Some(target))
      },
      Some(s"""WITH keys0 AS (
              |  SELECT DISTINCT ${O.hashkey("c_custkey")} AS hk FROM customer WHERE c_custkey % 4 != 0),
              |target AS (
              |  SELECT hk, timestamp '2024-07-01 00:00:00' AS ldts, 'TPC_H/Customer' AS rsrc, 1 AS isa
              |  FROM keys0),
              |delta AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk, timestamp '2024-07-02 00:00:00' AS ldts,
              |         'TPC_H/Customer' AS rsrc
              |  FROM customer WHERE c_custkey % 3 != 0
              |  UNION ALL
              |  SELECT ${O.hashkey("c_custkey")}, timestamp '2024-07-03 00:00:00', 'TPC_H/Customer'
              |  FROM customer WHERE c_custkey % 5 != 0),
              |hashkeys AS (SELECT hk, MIN(ldts) AS first FROM delta GROUP BY hk),
              |load_dates AS (SELECT DISTINCT ldts FROM delta),
              |history AS (
              |  SELECT k.hk, d.ldts FROM hashkeys k CROSS JOIN load_dates d WHERE d.ldts >= k.first),
              |act AS (
              |  SELECT h.hk, h.ldts, COALESCE(s.rsrc, 'SYSTEM') AS rsrc,
              |         CASE WHEN s.hk IS NULL THEN 0 ELSE 1 END AS isa
              |  FROM history h LEFT JOIN (SELECT DISTINCT hk, ldts, rsrc FROM delta) s
              |    ON s.hk = h.hk AND s.ldts = h.ldts),
              |dedup AS (
              |  SELECT * FROM act
              |  QUALIFY CASE WHEN isa = LAG(isa) OVER (PARTITION BY hk ORDER BY ldts)
              |    THEN FALSE ELSE TRUE END),
              |mn AS (SELECT MIN(ldts) AS m FROM dedup),
              |cs AS (
              |  SELECT hk, isa FROM target
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk ORDER BY ldts DESC) = 1),
              |filtered AS (
              |  SELECT d.hk, d.ldts, d.rsrc, d.isa FROM dedup d LEFT JOIN cs ON cs.hk = d.hk, mn
              |  WHERE cs.hk IS NULL OR NOT (cs.isa = d.isa AND d.ldts = mn.m)),
              |disappeared AS (
              |  SELECT cs.hk, mn.m AS ldts, 'SYSTEM' AS rsrc, 0 AS isa FROM cs, mn
              |  WHERE cs.isa = 1
              |    AND cs.hk NOT IN (SELECT hk FROM dedup WHERE ldts = (SELECT m FROM mn))),
              |unioned AS (
              |  SELECT DISTINCT * FROM (
              |    SELECT * FROM filtered UNION ALL SELECT * FROM disappeared))
              |SELECT u.hk AS hk_customer_h, u.ldts, u.rsrc, cast(u.isa AS boolean) AS is_active
              |FROM unioned u WHERE NOT EXISTS (
              |  SELECT 1 FROM target t WHERE t.hk = u.hk AND t.ldts = u.ldts)""".stripMargin)),

    // The MA staged frame as its own model — in the reference the stage IS
    // a separate dbt model written once and consumed by every downstream
    // entity (`macros/staging/stage.sql`). Exposing the build as a query
    // makes the shared one-time cost a visible line in the bench (the MA
    // consumers below measure warm, reading the materialized table).
    Q("ma_stage_build",
      (s, dir) => ordMaStageMat(s, dir)
        .select(col("hk_customer_h"), col(LdtsAlias), col(RsrcAlias),
          col("o_orderkey"), col("o_orderstatus"), col("b"),
          col("o_totalprice_v"), col("hd_orders_ms")),
      Some(s"""WITH $ordMaSql
              |SELECT hk_customer_h, ldts, rsrc, o_orderkey, o_orderstatus,
              |       CAST(b AS BIGINT) AS b, o_totalprice_v, hd_orders_ms
              |FROM staged""".stripMargin)),

    // ma_sat_v0.sql:110-117 — incremental MA sat: groups whose set-hashdiff
    // is unchanged vs the target's latest are dropped; changed groups insert
    // ALL their multi-active rows.
    Q("ma_sat_incremental",
      (s, dir) => {
        val staged = ordMaStageMat(s, dir)
        val target = MaSatV0Loader.records(staged.filter(col("b") === 0), "hk_customer_h",
          "hd_orders_ms", Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice_v"),
          target = None, singleBatch = true)
        MaSatV0Loader.records(staged, "hk_customer_h", "hd_orders_ms", Seq("o_orderkey"),
          Seq("o_orderstatus", "o_totalprice_v"), target = Some(target))
      },
      Some(s"""WITH $ordMaSql
              |SELECT s.hk_customer_h, s.hd_orders_ms, s.rsrc, s.ldts,
              |       s.o_orderkey, s.o_orderstatus, s.o_totalprice_v
              |FROM staged s WHERE s.b = 1 AND NOT EXISTS (
              |  SELECT 1 FROM staged t WHERE t.b = 0
              |    AND t.hk_customer_h = s.hk_customer_h
              |    AND t.hd_orders_ms = s.hd_orders_ms)""".stripMargin)),

    // J9 — MA sat v1: end-date the distinct (hk, ldts) loads, join back to
    // all multi-active rows (ma_sat_v1.sql:47-78).
    Q("ma_sat_v1_order",
      (s, dir) => {
        val staged = ordMaStageMat(s, dir)
        val v0 = MaSatV0Loader.records(staged, "hk_customer_h", "hd_orders_ms",
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice_v"), target = None)
        MaSatV1Loader.build(v0, "hk_customer_h", "hd_orders_ms", Seq("o_orderkey"),
          addIsCurrentFlag = true)
      },
      Some(s"""WITH $ordMaSql,
              |v0 AS (
              |  SELECT s.* FROM staged s SEMI JOIN (
              |    SELECT hk_customer_h, ldts FROM (
              |      SELECT DISTINCT hk_customer_h, ldts, hd_orders_ms FROM staged)
              |    QUALIFY CASE WHEN hd_orders_ms = LAG(hd_orders_ms)
              |      OVER (PARTITION BY hk_customer_h ORDER BY ldts) THEN FALSE ELSE TRUE END
              |  ) k ON s.hk_customer_h = k.hk_customer_h AND s.ldts = k.ldts),
              |loads AS (SELECT DISTINCT hk_customer_h, ldts FROM v0),
              |end_dated AS (
              |  SELECT hk_customer_h, ldts,
              |    COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |      OVER (PARTITION BY hk_customer_h ORDER BY ldts),
              |      timestamp '8888-12-31 23:59:59') AS ledts
              |  FROM loads)
              |SELECT v0.hk_customer_h, v0.hd_orders_ms, v0.rsrc, v0.ldts, e.ledts,
              |  (e.ledts = timestamp '8888-12-31 23:59:59') AS is_current,
              |  v0.o_orderkey, v0.o_orderstatus, v0.o_totalprice_v
              |FROM v0 LEFT JOIN end_dated e
              |  ON v0.hk_customer_h = e.hk_customer_h AND v0.ldts = e.ldts""".stripMargin)),

    // ref_sat_v1.sql — v1 end-dating over a COMPOSITE ref key: the LEAD and
    // the change-dedup both partition by (n_regionkey, n_nationkey), not the
    // first key column alone.
    Q("ref_sat_v1_nation",
      (s, dir) => {
        val src = rd(s, dir, "nation")
          .crossJoin(s.range(2).select(col("id").as("b")))
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(b as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Nation"))
          .withColumn("n_name_v",
            when(col("b") === 1 && col("n_nationkey") % 3 === 0,
              concat(col("n_name"), lit("_v2"))).otherwise(col("n_name")))
          .withColumn("hd_nation_rs", Hashing.hashdiff(Seq(col("n_name_v"))))
        val v0 = SatV0Loader.records(src, Seq("n_regionkey", "n_nationkey"),
          Some("hd_nation_rs"), Seq("n_name_v"), target = None)
        SatV1Loader.build(v0, Seq("n_regionkey", "n_nationkey"), Some("hd_nation_rs"),
          addIsCurrentFlag = true)
      },
      Some(s"""WITH src AS (
              |  SELECT n_regionkey, n_nationkey,
              |    timestamp '2024-01-01 00:00:00' + b * INTERVAL 1 DAY AS ldts,
              |    'TPC_H/Nation' AS rsrc,
              |    CASE WHEN b = 1 AND n_nationkey % 3 = 0 THEN n_name || '_v2' ELSE n_name END AS n_name_v
              |  FROM nation CROSS JOIN (VALUES (0),(1)) AS batches(b)),
              |hashed AS (SELECT *, ${O.hashdiff("n_name_v")} AS hd_nation_rs FROM src),
              |sat_v0 AS (
              |  SELECT n_regionkey, n_nationkey, hd_nation_rs, rsrc, ldts, n_name_v FROM hashed
              |  QUALIFY CASE WHEN hd_nation_rs = LAG(hd_nation_rs)
              |    OVER (PARTITION BY n_regionkey, n_nationkey ORDER BY ldts) THEN FALSE ELSE TRUE END)
              |SELECT n_regionkey, n_nationkey, hd_nation_rs, rsrc, ldts,
              |  COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY n_regionkey, n_nationkey ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') AS ledts,
              |  CASE WHEN COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY n_regionkey, n_nationkey ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') = timestamp '8888-12-31 23:59:59'
              |    THEN TRUE ELSE FALSE END AS is_current,
              |  n_name_v
              |FROM sat_v0""".stripMargin)),

    // yaml_metadata parity: the reference's YAML config documents drive the
    // stage builder directly (yaml_metadata_parser.sql + stage.sql:8-67);
    // same semantics as stage_prejoin_derived, configured via YAML.
    Q("stage_yaml_meta",
      (s, dir) => {
        val yaml =
          """ldts: '!2024-01-01 00:00:00'
            |rsrc: '!CRM/Customer'
            |source_model: customer
            |enable_ghost_records: false
            |hashed_columns:
            |  hk_customer_h:
            |    - c_custkey
            |derived_columns:
            |  segment_uc: "upper(c_mktsegment)"
            |  src_system: '!CRM'
            |prejoined_columns:
            |  - ref_model: nation
            |    this_column_name: c_nationkey
            |    ref_column_name: n_nationkey
            |    extract_columns:
            |      - n_name
            |""".stripMargin
        graft.meta.MetadataBuilders.stage(yaml, name => rd(s, dir, name))
          .select(col("c_custkey"), col("n_name").as("nation_name"),
            col("segment_uc"), col("src_system"), col("hk_customer_h"))
      },
      Some(s"""SELECT c_custkey, n_name AS nation_name, upper(c_mktsegment) AS segment_uc,
              |  'CRM' AS src_system, ${O.hashkey("c_custkey")} AS hk_customer_h
              |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin)),

    // Whole mini-vault (stage → hub → sat v0 → sat v1 → snapshot control v0
    // → v1 → PIT) driven ENTIRELY by YAML metadata documents — the
    // datavault4dbt migration path: every `yaml_metadata` block a reference
    // user has drives the matching graft builder unchanged.
    Q("yaml_vault",
      (s, dir) => {
        import graft.meta.MetadataBuilders
        val built = scala.collection.mutable.Map.empty[String, DataFrame]
        def resolve(n: String): DataFrame = built.getOrElse(n, rd(s, dir, n))
        built("stage_customer") = MetadataBuilders.stage(
          """ldts: "timestampadd(DAY, cast(c_custkey % 3 as int), timestamp'2024-01-01 00:00:00')"
            |rsrc: '!TPC_H/Customer'
            |source_model: customer
            |enable_ghost_records: false
            |hashed_columns:
            |  hk_customer_h:
            |    - c_custkey
            |  hd_customer_s:
            |    is_hashdiff: true
            |    columns: [c_name, c_acctbal, c_mktsegment]
            |""".stripMargin, resolve)
        built("hub_customer") = MetadataBuilders.hub(
          """hashkey: hk_customer_h
            |business_keys:
            |  - c_custkey
            |source_models:
            |  stage_customer:
            |    rsrc_static: 'TPC_H/%'
            |""".stripMargin, resolve, target = None)
        built("sat_customer_v0") = MetadataBuilders.satV0(
          """source_model: stage_customer
            |parent_hashkey: hk_customer_h
            |src_hashdiff: hd_customer_s
            |src_payload: [c_name, c_acctbal, c_mktsegment]
            |""".stripMargin, resolve, target = None)
        built("sat_customer") = MetadataBuilders.satV1(
          """sat_v0: sat_customer_v0
            |hashkey: hk_customer_h
            |hashdiff: hd_customer_s
            |""".stripMargin, resolve)
        built("snap_ctl_v0") = MetadataBuilders.controlSnapV0(
          """start_date: 2024-02-01
            |daily_snapshot_time: '12:00:00'
            |end_date: 2024-02-07
            |""".stripMargin, s)
        built("snap_ctl") = MetadataBuilders.controlSnapV1(
          """control_snap_v0: snap_ctl_v0
            |log_logic:
            |  daily:
            |    forever: TRUE
            |""".stripMargin, resolve)
        MetadataBuilders.pit(
          """tracked_entity: hub_customer
            |hashkey: hk_customer_h
            |sat_names: [sat_customer]
            |snapshot_relation: snap_ctl
            |dimension_key: dim_key_customer
            |snapshot_trigger_column: is_active
            |""".stripMargin, resolve, target = None)
      },
      Some(yamlVaultOracle)),

    // The same YAML mini-vault, but scheduled by the DAG Runner through the
    // YamlVault bridge (the dbt-manifest analogue): dependencies extracted
    // from the yaml documents themselves, models topologically ordered and
    // materialized through a TxLogTable, PIT read back — byte-identical to
    // the hand-wired yaml_vault result (same oracle).
    Q("runner_yaml_vault",
      (s, dir) => {
        import graft.meta.YamlVault
        import graft.meta.YamlVault.ModelDef
        val st = new graft.runtime.TxLogTable(s, tmpWarehouse("graft_q_ryaml"))
        val defs = Seq(
          ModelDef("stage_customer", "stage",
            """ldts: "timestampadd(DAY, cast(c_custkey % 3 as int), timestamp'2024-01-01 00:00:00')"
              |rsrc: '!TPC_H/Customer'
              |source_model: customer
              |enable_ghost_records: false
              |hashed_columns:
              |  hk_customer_h:
              |    - c_custkey
              |  hd_customer_s:
              |    is_hashdiff: true
              |    columns: [c_name, c_acctbal, c_mktsegment]
              |""".stripMargin),
          ModelDef("hub_customer", "hub",
            """hashkey: hk_customer_h
              |business_keys:
              |  - c_custkey
              |source_models:
              |  stage_customer:
              |    rsrc_static: 'TPC_H/%'
              |""".stripMargin),
          ModelDef("sat_customer_v0", "sat_v0",
            """source_model: stage_customer
              |parent_hashkey: hk_customer_h
              |src_hashdiff: hd_customer_s
              |src_payload: [c_name, c_acctbal, c_mktsegment]
              |""".stripMargin),
          ModelDef("sat_customer", "sat_v1",
            """sat_v0: sat_customer_v0
              |hashkey: hk_customer_h
              |hashdiff: hd_customer_s
              |""".stripMargin),
          ModelDef("snap_ctl_v0", "control_snap_v0",
            """start_date: 2024-02-01
              |daily_snapshot_time: '12:00:00'
              |end_date: 2024-02-07
              |""".stripMargin),
          ModelDef("snap_ctl", "control_snap_v1",
            """control_snap_v0: snap_ctl_v0
              |log_logic:
              |  daily:
              |    forever: TRUE
              |""".stripMargin),
          ModelDef("pit_customer", "pit",
            """tracked_entity: hub_customer
              |hashkey: hk_customer_h
              |sat_names: [sat_customer]
              |snapshot_relation: snap_ctl
              |dimension_key: dim_key_customer
              |snapshot_trigger_column: is_active
              |""".stripMargin))
        new graft.runtime.Runner(s, st, YamlVault.models(defs), {
          case "customer" => rd(s, dir, "customer")
          case other      => throw new IllegalArgumentException(other)
        }).run()
        st.read("pit_customer")
      },
      Some(yamlVaultOracle)),

    // P6 at scale — incremental MULTI-source hub WITHOUT rsrc_static: the
    // global HWM applies per source (ldts is the batch load timestamp), so
    // both parquet scans carry a pushed-down ldts > hwm predicate instead of
    // re-scanning full sources every load (the reference full-scans here,
    // hub.sql:173-179 guards on single-source). The supplier keyspace is
    // offset by max(c_custkey)+1 DERIVED FROM THE DATA on both engines —
    // a fixed +1e6 collided with real custkeys at sf10 (custkey reaches
    // 1.5e6), and a collided key with tied ldts made the earliest-row
    // winner engine-arbitrary (caught by the r10 sf10 full-registry
    // drill: 3435 rsrc diffs).
    Q("hub_incremental_multi",
      (s, dir) => {
        val c = custStage(s, dir)
        val skeyOff = rd(s, dir, "customer")
          .agg(max(col("c_custkey"))).head().getLong(0) + 1L
        val sup = rd(s, dir, "supplier")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(s_suppkey % 5 as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("TPC_H/Supplier"))
          .withColumn("skey", col("s_suppkey") + skeyOff)
          .withColumn("hk_supplier_h", Hashing.hashkey(Seq(col("skey"))))
        val sources = Seq(
          EntitySource(c, Some("hk_customer_h"), Seq("c_custkey")),
          EntitySource(sup, Some("hk_supplier_h"), Seq("skey")))
        val full = HubLoader.records(sources, "hk_party_h", Seq("party_key"), None)
        val target = full.filter(col(LdtsAlias) <= to_timestamp(lit("2024-01-02 00:00:00")))
        HubLoader.records(sources, "hk_party_h", Seq("party_key"), Some(target))
      },
      Some(s"""WITH ko AS (SELECT max(c_custkey) + 1 AS off FROM customer),
              |c AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk_party_h, c_custkey AS party_key,
              |         timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Customer' AS rsrc
              |  FROM customer),
              |sup AS (
              |  SELECT ${O.hashkey("s_suppkey + ko.off")} AS hk_party_h,
              |         s_suppkey + ko.off AS party_key,
              |         timestamp '2024-01-01 00:00:00' + (s_suppkey % 5) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Supplier' AS rsrc
              |  FROM supplier, ko),
              |unioned AS (SELECT * FROM c UNION ALL SELECT * FROM sup),
              |full_hub AS (
              |  SELECT * FROM unioned
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_party_h ORDER BY ldts) = 1),
              |target AS (SELECT * FROM full_hub WHERE ldts <= timestamp '2024-01-02 00:00:00'),
              |delta AS (
              |  SELECT * FROM unioned WHERE ldts > (SELECT max(ldts) FROM target)),
              |dedup AS (
              |  SELECT * FROM delta
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_party_h ORDER BY ldts) = 1)
              |SELECT d.* FROM dedup d
              |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.hk_party_h = d.hk_party_h)""".stripMargin)),

    // A1 — grouped per-pattern HWM map: ONE source declaring TWO rsrc_static
    // patterns; each pattern gets its own max-ldts watermark (hub.sql:46-133
    // rsrc_static_N UNION ALL + GROUP BY rsrc_static).
    Q("hub_rsrc_static_multi",
      (s, dir) => {
        val full = custStage(s, dir)
          .withColumn(RsrcAlias, concat(lit("TPC_H/Customer/"),
            when(col("c_custkey") % 2 === 0, "A").otherwise("B")))
          .select(col("hk_customer_h"), col("c_custkey").as("custkey"),
            col(LdtsAlias), col(RsrcAlias))
        val target = full.filter(col(LdtsAlias) <= to_timestamp(lit("2024-01-02 00:00:00")))
        HubLoader.records(
          Seq(EntitySource(full, Some("hk_customer_h"), Seq("custkey"),
            rsrcStatics = Seq("TPC_H/Customer/A", "TPC_H/Customer/B"))),
          "hk_customer_h", Seq("custkey"), target = Some(target))
      },
      Some(s"""WITH $custStageSql,
              |full_hub AS (
              |  SELECT hk_customer_h, c_custkey AS custkey, ldts,
              |         'TPC_H/Customer/' || (CASE WHEN c_custkey % 2 = 0 THEN 'A' ELSE 'B' END) AS rsrc
              |  FROM cust_stage),
              |target AS (SELECT * FROM full_hub WHERE ldts <= timestamp '2024-01-02 00:00:00'),
              |maxes AS (
              |  SELECT MAX(ldts) AS m FROM target
              |  WHERE rsrc LIKE 'TPC_H/Customer/A' AND ldts != timestamp '8888-12-31 23:59:59'
              |  UNION ALL
              |  SELECT MAX(ldts) AS m FROM target
              |  WHERE rsrc LIKE 'TPC_H/Customer/B' AND ldts != timestamp '8888-12-31 23:59:59'),
              |incoming AS (SELECT f.* FROM full_hub f JOIN maxes x ON f.ldts > x.m OR x.m IS NULL),
              |dedup AS (
              |  SELECT * FROM incoming
              |  QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_customer_h ORDER BY ldts) = 1)
              |SELECT d.* FROM dedup d WHERE NOT EXISTS (
              |  SELECT 1 FROM target t WHERE t.hk_customer_h = d.hk_customer_h)""".stripMargin)),

    // O2 — LIMIT-1 distinct probe with exclusions (get_distinct_value.sql):
    // the ghost rsrcs are excluded, leaving exactly one distinct value.
    Q("distinct_value_probe",
      (s, dir) => {
        val staged = custStage(s, dir).select(col(RsrcAlias))
          .unionAll(s.range(1).select(lit(UnknownRsrc).as(RsrcAlias)))
          .unionAll(s.range(1).select(lit(ErrorRsrc).as(RsrcAlias)))
        val v = Ops.distinctValue(staged, RsrcAlias, Seq(UnknownRsrc, ErrorRsrc))
        s.range(1).select(lit(v.orNull.asInstanceOf[String]).as("rsrc_value"))
      },
      Some("""SELECT DISTINCT rsrc AS rsrc_value FROM (
             |  SELECT 'TPC_H/Customer' AS rsrc FROM customer
             |  UNION ALL SELECT 'SYSTEM' UNION ALL SELECT 'ERROR')
             |WHERE rsrc NOT IN ('SYSTEM', 'ERROR') LIMIT 1""".stripMargin)),

    // O3 — dev row limiter (limit_rows.sql TOP 100); ordered first so the
    // limited set is deterministic.
    Q("limit_rows_dev",
      (s, dir) => Ops.limitRows(
        custStage(s, dir).select("c_custkey", "c_name").orderBy("c_custkey"),
        isProd = false),
      Some("""SELECT c_custkey, c_name FROM customer
             |ORDER BY c_custkey LIMIT 100""".stripMargin)),

    // A6 via the STAGE API — multi_active_config: the grouped MA hashdiff is
    // computed inside StageLoader (stage.sql:402-444) rather than hand-rolled
    // in the query; hashkey + plain hashdiff coexist with the MA hashdiff.
    Q("stage_multi_active",
      (s, dir) => {
        val cfg = StageConfig(
          ldts = "!2024-03-01 00:00:00", rsrc = "!TPC_H/Orders",
          hashedColumns = Seq(
            HashColumnSpec("hk_customer_h", Seq("o_custkey")),
            HashColumnSpec("hd_orders_ms", Seq("o_orderstatus", "o_totalprice"),
              isHashdiff = true)),
          multiActive = Some(MultiActiveConfig(Seq("o_orderkey"), "hk_customer_h")),
          enableGhostRecords = false)
        StageLoader.build(rd(s, dir, "orders"), cfg)
          .select("o_orderkey", "o_custkey", "hk_customer_h", "hd_orders_ms")
      },
      Some(s"""WITH src AS (
              |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              |         ${O.hashkey("o_custkey")} AS hk_customer_h,
              |         timestamp '2024-03-01 00:00:00' AS ldts
              |  FROM orders),
              |grouped AS (
              |  SELECT hk_customer_h, ldts,
              |         ${O.maHashdiff(Seq("o_orderstatus", "o_totalprice"), Seq("o_orderkey"))} AS hd_orders_ms
              |  FROM src GROUP BY hk_customer_h, ldts)
              |SELECT s.o_orderkey, s.o_custkey, s.hk_customer_h, g.hd_orders_ms
              |FROM src s LEFT JOIN grouped g
              |  ON s.hk_customer_h = g.hk_customer_h AND s.ldts = g.ldts""".stripMargin)),

    // exclude_columns + H7 — hashdiff over "all source columns minus a set"
    // (stage_processing_macros.sql:177-212) and datatype-aware hash inputs
    // (get_field_hash_by_datatype.sql): boolean → 1/0, nested → JSON.
    Q("stage_exclude_hashdiff",
      (s, dir) => {
        val cfg = StageConfig(
          ldts = "!2024-01-01 00:00:00", rsrc = "!TPC_H/Orders",
          derivedColumns = Seq(
            DerivedColumn("is_urgent", "o_orderpriority = '1-URGENT'"),
            DerivedColumn("status_arr", "array(o_orderstatus, o_orderpriority)")),
          hashedColumns = Seq(
            HashColumnSpec("hk_order_h", Seq("o_orderkey")),
            // hash every source column EXCEPT the two keys
            HashColumnSpec("hd_order_s", Seq("o_orderkey", "o_custkey"),
              isHashdiff = true, excludeColumns = true),
            // boolean + array inputs take the H7 normalization path
            HashColumnSpec("hd_flags_s", Seq("is_urgent", "status_arr"), isHashdiff = true)),
          enableGhostRecords = false)
        StageLoader.build(rd(s, dir, "orders"), cfg)
          .select("o_orderkey", "is_urgent", "hd_order_s", "hd_flags_s", "hk_order_h")
      },
      Some(s"""SELECT o_orderkey,
              |  (o_orderpriority = '1-URGENT') AS is_urgent,
              |  ${O.hashdiff("o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")} AS hd_order_s,
              |  ${O.hashdiff("CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END",
                              "to_json([o_orderstatus, o_orderpriority])")} AS hd_flags_s,
              |  ${O.hashkey("o_orderkey")} AS hk_order_h
              |FROM orders""".stripMargin)),

    // H4 use_rtrim — trailing null placeholders stripped before hashing, so
    // a payload extended by a new (still-NULL) column keeps its old hashdiff
    // (the reference's schema-evolution story for hashdiffs). The missing
    // column is re-added as a typed NULL (P5) and participates in the hash.
    Q("stage_rtrim_hashdiff",
      (s, dir) => {
        val cfg = StageConfig(
          ldts = "!2024-01-01 00:00:00", rsrc = "!TPC_H/Customer",
          missingColumns = Map("c_phone" -> org.apache.spark.sql.types.StringType),
          hashedColumns = Seq(
            HashColumnSpec("hd_plain", Seq("c_name", "c_phone"), isHashdiff = true),
            HashColumnSpec("hd_rtrim", Seq("c_name", "c_phone"), isHashdiff = true,
              rtrimHashdiff = true),
            HashColumnSpec("hd_old", Seq("c_name"), isHashdiff = true, rtrimHashdiff = true)),
          enableGhostRecords = false)
        StageLoader.build(rd(s, dir, "customer"), cfg)
          .select("c_custkey", "hd_plain", "hd_rtrim", "hd_old",
            // rtrim makes the extended payload hash equal the pre-extension one
            "c_phone")
          .withColumn("stable_under_evolution", col("hd_rtrim") === col("hd_old"))
      },
      Some(s"""SELECT c_custkey,
              |  ${O.hashdiff("c_name", "cast(NULL AS varchar)")} AS hd_plain,
              |  ${O.hashdiffRtrim("c_name", "cast(NULL AS varchar)")} AS hd_rtrim,
              |  ${O.hashdiffRtrim("c_name")} AS hd_old,
              |  cast(NULL AS varchar) AS c_phone,
              |  TRUE AS stable_under_evolution
              |FROM customer""".stripMargin)),

    // S7 oracle-checked — copy-on-write MERGE over a pday-clustered table:
    // replace matched keys, insert new ones, rewriting only the files that
    // hold a delta key; the returned table IS the post-merge state,
    // oracle-checked.
    // The INSERT keys are shifted by max(o_orderkey)+1 derived from the
    // data on both engines — a fixed +1e7 collided with real orderkeys at
    // sf10 (dense keys reach 1.5e7), turning intended inserts into
    // updates on the Spark side while the oracle's UNION ALL kept both.
    Q("merge_partitioned",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_merge")
        val store = new graft.runtime.TxLogTable(s, wh)
        val keyOff = rd(s, dir, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
        val base = rd(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") % 4).cast("long").as("pday"))
        store.appendClustered("t", base, col("pday"), 4)
        // UPDATE every %10 key, INSERT a shifted copy of every %1000 key
        // (unique source keys — the MERGE's duplicate-key gate)
        val delta = base.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
          .unionByName(
            base.filter(col("o_orderkey") % 1000 === 0)
              .select((col("o_orderkey") + keyOff).as("o_orderkey"), col("o_totalprice"),
                ((col("o_orderkey") + keyOff) % 4).cast("long").as("pday")))
        store.merge("t", delta, Seq("o_orderkey"))
        store.read("t").select(col("o_orderkey"), col("o_totalprice"),
          col("pday").cast("long").as("pday"))
      },
      Some("""WITH ko AS (SELECT max(o_orderkey) + 1 AS off FROM orders)
             |SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10.0
             |       ELSE o_totalprice END AS o_totalprice,
             |  o_orderkey % 4 AS pday
             |FROM orders
             |UNION ALL
             |SELECT o_orderkey + ko.off, o_totalprice, (o_orderkey + ko.off) % 4
             |FROM orders, ko WHERE o_orderkey % 1000 = 0""".stripMargin)),

    // §5 driver-verified — the reference's documented soft-constraint
    // contract (40_testing-a-data-vault.md:47-71) as executable checks:
    // a vault with SEEDED violations (duplicated hub key, null sat key,
    // orphaned sat rows) must report exactly those counts — proving the
    // battery detects what it claims to.
    Q("vault_constraints",
      (s, dir) => {
        val c = custStage(s, dir)
        val hub = c.select(col("hk_customer_h"), col("c_custkey"), col(LdtsAlias), col(RsrcAlias))
          .groupBy(col("hk_customer_h")).agg(min(col(LdtsAlias)).as(LdtsAlias))
          // seed: duplicate every 100th key
          .unionByName(c.filter(col("c_custkey") % 100 === 0)
            .groupBy(col("hk_customer_h")).agg(min(col(LdtsAlias)).as(LdtsAlias)))
        val sat = c.select(col("hk_customer_h"), col(LdtsAlias), col("c_name"))
          // seed: null the key on every 250th customer's row, orphan every 125th
          .withColumn("hk_customer_h",
            when(col("c_name").like("%0125"), lit("deadbeef"))
              .when(col("c_name").like("%0250"), lit(null))
              .otherwise(col("hk_customer_h")))
        graft.quality.VaultConstraints.report(
          graft.quality.VaultConstraints.keyedEntityChecks(hub, "hk_customer_h", "hub_customer") ++
          graft.quality.VaultConstraints.satV0Checks(sat, "hk_customer_h", LdtsAlias,
            hub, "hk_customer_h", "sat_customer"))
      },
      Some(s"""WITH c AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk, c_custkey, c_name,
              |    timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts
              |  FROM customer),
              |hub AS (
              |  SELECT hk, min(ldts) AS ldts FROM c GROUP BY hk
              |  UNION ALL
              |  SELECT hk, min(ldts) FROM c WHERE c_custkey % 100 = 0 GROUP BY hk),
              |sat AS (
              |  SELECT CASE WHEN c_name LIKE '%0125' THEN 'deadbeef'
              |              WHEN c_name LIKE '%0250' THEN NULL
              |              ELSE hk END AS hk, ldts, c_name
              |  FROM c)
              |SELECT 'hub_customer.hk_customer_h_not_null' AS check,
              |  cast(count(*) FILTER (hk IS NULL) AS BIGINT) AS violations FROM hub
              |UNION ALL
              |SELECT 'hub_customer.hk_customer_h_unique',
              |  cast(count(*) FILTER (n > 1) AS BIGINT)
              |FROM (SELECT hk, count(*) AS n FROM hub WHERE hk IS NOT NULL GROUP BY hk)
              |UNION ALL
              |SELECT 'sat_customer.hk_customer_h_not_null',
              |  cast(count(*) FILTER (hk IS NULL) AS BIGINT) FROM sat
              |UNION ALL
              |SELECT 'sat_customer.hk_ldts_unique',
              |  cast(count(*) FILTER (n > 1) AS BIGINT)
              |FROM (SELECT hk, ldts, count(*) AS n FROM sat
              |      WHERE hk IS NOT NULL AND ldts IS NOT NULL GROUP BY hk, ldts)
              |UNION ALL
              |SELECT 'sat_customer.fk_in_parent',
              |  cast(count(*) AS BIGINT)
              |FROM sat WHERE hk IS NOT NULL
              |  AND hk NOT IN (SELECT hk FROM hub)""".stripMargin)),

    // S7 driver-verified on the TRANSACTIONAL log-table format: appends
    // build versions, a file-pruned atomic MERGE replaces matched keys and
    // inserts new ones, and the pre-merge snapshot stays readable (read
    // BEFORE the merge, unioned in afterwards — snapshot isolation is part
    // of the oracle-checked result, not just a unit test).
    // INSERT keys shifted by max(o_orderkey)+1 derived from the data on
    // both engines (a fixed +1e7 collided with real orderkeys at sf10 —
    // same defect class as merge_partitioned, caught by the r10 drill).
    Q("txlog_merge",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txlog")
        val t = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        val keyOff = rd(s, dir, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
        t.append("t", base.filter(col("o_orderkey") % 2 === 0))
        t.append("t", base.filter(col("o_orderkey") % 2 =!= 0))
        val preMerge = t.read("t") // snapshot resolved at v2
        val delta = base.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
          .unionByName(base.filter(col("o_orderkey") % 1000 === 0)
            .select((col("o_orderkey") + keyOff).as("o_orderkey"), col("o_totalprice")))
        t.merge("t", delta, Seq("o_orderkey"))
        t.read("t").withColumn("snapshot", lit("merged"))
          .unionByName(preMerge.withColumn("snapshot", lit("pre_merge")))
      },
      Some("""WITH ko AS (SELECT max(o_orderkey) + 1 AS off FROM orders)
             |SELECT o_orderkey,
             |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 10.0
             |       ELSE o_totalprice END AS o_totalprice,
             |  'merged' AS snapshot
             |FROM orders
             |UNION ALL
             |SELECT o_orderkey + ko.off, o_totalprice, 'merged'
             |FROM orders, ko WHERE o_orderkey % 1000 = 0
             |UNION ALL
             |SELECT o_orderkey, o_totalprice, 'pre_merge' FROM orders""".stripMargin)),

    // S9 driver-verified on the transactional format — the same DDL
    // lifecycle as ddl_lifecycle, but METADATA-ONLY: each ALTER commits a
    // manifest with a remapped column header and zero data files touched
    // (the O(1) property itself is asserted by TxLogTableSpec; this query
    // oracle-checks the visible semantics, including the null-filled added
    // column read through files that predate it).
    Q("txlog_ddl",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txddl")
        val t = new graft.runtime.TxLogTable(s, wh)
        t.append("t", rd(s, dir, "nation"))
        t.addColumn("t", "n_comment_v2", "string")
        t.renameColumn("t", "n_name", "nation_name")
        t.dropColumn("t", "n_regionkey")
        // an append AFTER the DDL writes the evolved schema; pre-DDL files
        // null-fill the added column through the mapping
        t.append("t", t.read("t").limit(0)) // no-op append exercises the path
        t.read("t")
      },
      Some("""SELECT n_nationkey, n_name AS nation_name,
             |  cast(NULL AS varchar) AS n_comment_v2
             |FROM nation""".stripMargin)),

    // Time travel on the transactional format, driver-verified: three
    // version snapshots of one table read back side by side — v1 (initial
    // append), v2 (after a row-level MERGE that updates even keys and
    // inserts new ones), and current (after a metadata-only DROP COLUMN).
    // Old versions resolve through their OWN manifest: v1/v2 still serve
    // the later-dropped column, and every snapshot is a plain pruned file
    // read — no log replay, cost O(live files of that version).
    Q("txlog_time_travel",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txtt")
        val t = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        t.append("t", base) // v1
        val delta = base.filter(col("n_nationkey") % 2 === 0)
          .withColumn("n_name", concat(col("n_name"), lit("!")))
          .unionByName(base.filter(col("n_nationkey") % 5 === 0)
            .select((col("n_nationkey") + lit(100L)).as("n_nationkey"),
              lit("NEW").as("n_name"), lit(null).cast("long").as("n_regionkey")))
        t.merge("t", delta, Seq("n_nationkey")) // v2
        t.dropColumn("t", "n_regionkey") // v3, metadata-only
        val v1 = t.readVersion("t", 1).withColumn("snapshot", lit("v1"))
        val v2 = t.readVersion("t", 2).withColumn("snapshot", lit("v2"))
        val cur = t.read("t")
          .withColumn("n_regionkey", lit(null).cast("long"))
          .withColumn("snapshot", lit("current"))
        v1.unionByName(v2).unionByName(cur)
          .select(col("snapshot"), col("n_nationkey"), col("n_name"), col("n_regionkey"))
      },
      Some("""SELECT 'v1' AS snapshot, n_nationkey, n_name, n_regionkey FROM nation
             |UNION ALL
             |SELECT 'v2', n_nationkey,
             |  CASE WHEN n_nationkey % 2 = 0 THEN n_name || '!' ELSE n_name END,
             |  n_regionkey
             |FROM nation
             |UNION ALL
             |SELECT 'v2', n_nationkey + 100, 'NEW', NULL
             |FROM nation WHERE n_nationkey % 5 = 0
             |UNION ALL
             |SELECT 'current', n_nationkey,
             |  CASE WHEN n_nationkey % 2 = 0 THEN n_name || '!' ELSE n_name END,
             |  NULL
             |FROM nation
             |UNION ALL
             |SELECT 'current', n_nationkey + 100, 'NEW', NULL
             |FROM nation WHERE n_nationkey % 5 = 0""".stripMargin)),

    // WRITE-AUDIT-PUBLISH on the transactional format, driver-verified:
    // the batch lands in a STAGING table, the audit runs against staged
    // data (null keys, duplicate keys, out-of-range balances), and only
    // a passing batch is published into the main table — a failing batch
    // (injected here: nulled keys for %13) leaves main UNTOUCHED. The
    // output carries the audit verdict per batch plus main's final
    // row count; the oracle derives all of it from `customer` closed-form.
    Q("txlog_write_audit_publish",
      (s, dir) => {
        import s.implicits._
        val t = new graft.runtime.TxLogTable(s, tmpWarehouse("graft_wap"))
        val base = rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        // batch 1: clean half — must publish; batch 2: %13 keys nulled —
        // must be rejected by the audit and never reach main
        val b1 = base.filter(col("c_custkey") % 2 === 0)
        val b2 = base.filter(col("c_custkey") % 2 =!= 0)
          .withColumn("c_custkey",
            when(col("c_custkey") % 13 === 0, lit(null).cast("long"))
              .otherwise(col("c_custkey")))
        def audit(staged: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val nulls = staged.filter(col("c_custkey").isNull).count()
          val dups = staged.groupBy("c_custkey").count()
            .filter(col("count") > 1 && col("c_custkey").isNotNull).count()
          (nulls, dups)
        }
        val results = Seq(("batch_1", b1), ("batch_2", b2)).map { case (name, b) =>
          t.overwrite("staging", b)
          val staged = t.read("staging")
          val (nulls, dups) = audit(staged)
          val pass = nulls == 0 && dups == 0
          if (pass) t.append("main", staged)
          (name, staged.count(), nulls, dups, pass)
        }
        val mainRows = t.read("main").count()
        results.toDF("batch", "n_staged", "n_null_keys", "n_dup_keys", "published")
          .withColumn("main_rows_final", lit(mainRows))
      },
      Some("""WITH c AS (SELECT * FROM customer),
             |b1 AS (SELECT count(*) AS n FROM c WHERE c_custkey % 2 = 0),
             |b2 AS (
             |  SELECT count(*) AS n,
             |    sum(CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END) AS nulls
             |  FROM c WHERE c_custkey % 2 <> 0)
             |SELECT 'batch_1' AS batch, cast(b1.n AS BIGINT) AS n_staged,
             |  cast(0 AS BIGINT) AS n_null_keys, cast(0 AS BIGINT) AS n_dup_keys,
             |  TRUE AS published, cast(b1.n AS BIGINT) AS main_rows_final
             |FROM b1
             |UNION ALL
             |SELECT 'batch_2', cast(b2.n AS BIGINT), cast(b2.nulls AS BIGINT),
             |  cast(0 AS BIGINT), FALSE, cast(b1.n AS BIGINT)
             |FROM b1, b2""".stripMargin)),

    // INCREMENTAL AGGREGATE MAINTENANCE (self-maintaining materialized
    // view): a per-priority count/total table updated by three additive
    // delta merges — each batch aggregates ONLY its own rows, then one
    // full-outer join against the bounded current state folds the deltas
    // in. The maintained table must equal the direct one-shot groupBy
    // (the oracle). Money accumulates as exact integer cents, so the
    // merge is associative and the batch split can never change a cent.
    // At 100 TB each refresh costs O(batch) + O(groups), never O(table).
    Q("incremental_agg_maintain",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s, tmpWarehouse("graft_aggmv"))
        val src = rd(s, dir, "orders")
        // each refresh overwrites agg_mv from its own read: the read pins
        // a version whose files no commit deletes, and expectedVersion
        // aborts the refresh if another commit landed in between
        (0 until 3).foreach { b =>
          val delta = src.filter(col("o_orderkey") % 3 === b)
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          val head = store.currentVersion("agg_mv")
          val merged = head.fold(delta)(v => store.readVersion("agg_mv", v)
            .select(col("o_orderpriority"), col("n").as("n0"), col("cents").as("c0"))
            .join(delta.select(col("o_orderpriority"), col("n").as("n1"),
              col("cents").as("c1")), Seq("o_orderpriority"), "full_outer")
            .select(col("o_orderpriority"),
              (coalesce(col("n0"), lit(0L)) + coalesce(col("n1"), lit(0L))).as("n"),
              (coalesce(col("c0"), lit(0L)) + coalesce(col("c1"), lit(0L))).as("cents")))
          store.overwrite("agg_mv", merged, head)
        }
        store.read("agg_mv").select(col("o_orderpriority"), col("n"),
          round(col("cents").cast("double") / 100.0, 2).as("total_price"))
      },
      Some("""SELECT o_orderpriority, cast(count(*) AS BIGINT) AS n,
             |  round(cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
             |    AS double) / 100.0, 2) AS total_price
             |FROM orders GROUP BY 1""".stripMargin)),

    // BUCKETED CO-LOCATED JOIN, driver-verified: hub and sat written
    // bucketed on the hashkey, then joined with broadcast disabled — the
    // physical plan's ShuffleExchange count is EMITTED AS A COLUMN and
    // the oracle pins it to zero, promoting the scale-defining property
    // (unit-held by BucketedStoreSpec) into the driver's CORRECTNESS
    // artifact. At 100 TB this layout is what turns every hub⋈sat in the
    // vault from a full shuffle into a local sort-merge.
    Q("bucketed_join_zero_shuffle",
      (s, dir) => {
        import s.implicits._
        val store = new graft.runtime.Bucketed(s, tmpWarehouse("graft_bjoin"))
        val hub = HubLoader.records(
          Seq(EntitySource(custStage(s, dir), Some("hk_customer_h"), Seq("c_custkey"))),
          "hk_customer_h", Seq("custkey"), target = None)
        val sat = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"),
          target = None)
        val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          store.overwrite("graft_q_bjoin_hub", hub, "hk_customer_h", 8, LdtsAlias)
          store.overwrite("graft_q_bjoin_sat", sat, "hk_customer_h", 8, LdtsAlias)
          val j = store.read("graft_q_bjoin_hub")
            .select(col("hk_customer_h"), col("custkey"))
            .join(store.read("graft_q_bjoin_sat"), Seq("hk_customer_h"))
          // count exchanges in the plan STRING: under AQE the executed plan
          // is an AdaptiveSparkPlanExec whose inner tree collect() skips,
          // which would make this proof vacuously pass with 0
          val nExch = "ShuffleExchange".r
            .findAllIn(j.queryExecution.executedPlan.toString).size
          Seq((store.read("graft_q_bjoin_hub").count(),
            store.read("graft_q_bjoin_sat").count(),
            j.count(), nExch.toLong))
            .toDF("n_hub", "n_sat", "n_joined", "n_exchanges")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      },
      Some(s"""WITH $satV0Sql,
              |c AS (SELECT cast(count(*) AS BIGINT) AS n FROM customer),
              |sv AS (SELECT cast(count(*) AS BIGINT) AS n FROM sat_v0)
              |SELECT c.n AS n_hub, sv.n AS n_sat, sv.n AS n_joined,
              |  cast(0 AS BIGINT) AS n_exchanges
              |FROM c, sv""".stripMargin)),

    // RIGHT-TO-BE-FORGOTTEN erasure across the vault, driver-verified:
    // build hub + sat into a warehouse, then physically remove every row
    // of the forget-set keys (%97) from BOTH tables via one broadcast
    // anti-join overwrite per table (a merge-on-read delete would leave
    // the rows in the data files) — the GDPR path a hash-keyed vault
    // makes cheap: the business key never appears in satellites, so
    // erasing by hashkey sweeps every entity table without schema
    // knowledge. Emits per-table before/forgotten/after counts plus a
    // REMAINING-MATCHES probe re-scanning the store (must be 0) so the
    // oracle checks the erasure actually happened, not just arithmetic.
    Q("vault_forget",
      (s, dir) => {
        import s.implicits._
        val store = new graft.runtime.TxLogTable(s, tmpWarehouse("graft_forget"))
        val hub = HubLoader.records(
          Seq(EntitySource(custStage(s, dir), Some("hk_customer_h"), Seq("c_custkey"))),
          "hk_customer_h", Seq("custkey"), target = None)
        store.overwrite("hub_customer", hub)
        val sat = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"),
          target = None)
        store.overwrite("sat_customer", sat)
        val forgetKeys = rd(s, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(Hashing.hashkey(Seq(col("c_custkey"))).as("hk_customer_h"))
          .distinct()
        def forget(table: String): (Long, Long, Long) = {
          val v = store.currentVersion(table).get
          val old = store.readVersion(table, v)
          val before = old.count()
          store.overwrite(table,
            old.join(broadcast(forgetKeys), Seq("hk_customer_h"), "left_anti"), Some(v))
          // ONE post-rewrite scan answers both "how many rows survive" and
          // "do any forgotten keys remain" (the probe the oracle checks) —
          // the separate count + left_semi pass was a second full scan
          val row = store.read(table)
            .join(broadcast(forgetKeys.withColumn("__m", lit(true))),
              Seq("hk_customer_h"), "left")
            .agg(count(lit(1)).as("after"), count(col("__m")).as("remaining"))
            .head()
          (before, row.getLong(0), row.getLong(1))
        }
        val (hb, ha, hr) = forget("hub_customer")
        val (sb, sa, sr) = forget("sat_customer")
        Seq(("hub_customer", hb, hb - ha, ha, hr),
          ("sat_customer", sb, sb - sa, sa, sr))
          .toDF("table_name", "rows_before", "rows_forgotten", "rows_after",
            "remaining_matches")
      },
      Some(s"""WITH $satV0Sql,
              |fhk AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk
              |  FROM customer WHERE c_custkey % 97 = 0),
              |hubc AS (
              |  SELECT cast(count(*) AS BIGINT) AS nb,
              |    cast(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS nf
              |  FROM customer),
              |satc AS (
              |  SELECT cast(count(*) AS BIGINT) AS nb,
              |    cast(sum(CASE WHEN hk_customer_h IN (SELECT hk FROM fhk)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS nf
              |  FROM sat_v0)
              |SELECT 'hub_customer' AS table_name, nb AS rows_before,
              |  nf AS rows_forgotten, nb - nf AS rows_after,
              |  cast(0 AS BIGINT) AS remaining_matches FROM hubc
              |UNION ALL
              |SELECT 'sat_customer', nb, nf, nb - nf, cast(0 AS BIGINT)
              |FROM satc""".stripMargin)),

    // RIGHT-TO-BE-FORGOTTEN, MERGE-ON-READ: the same GDPR erasure as
    // `vault_forget` but through equality deletion vectors — each
    // entity's forget is ONE key-file commit touching zero data files
    // (pinned as a column), reads are immediately clean, and the
    // follow-up compact PHYSICALLY erases the bytes (tombstones
    // materialized away, also pinned). The two-phase posture is exactly
    // how a 100 TB vault handles erasure SLAs: logical erasure in
    // minutes (O(keys)), physical reclamation with the next maintenance
    // window — instead of vault_forget's immediate full rewrite per
    // table.
    Q("vault_forget_mor",
      (s, dir) => {
        import s.implicits._
        val store = new graft.runtime.TxLogTable(s, tmpWarehouse("graft_forgetm"))
        val hub = HubLoader.records(
          Seq(EntitySource(custStage(s, dir), Some("hk_customer_h"), Seq("c_custkey"))),
          "hk_customer_h", Seq("custkey"), target = None)
        store.overwrite("hub_customer", hub)
        val sat = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"),
          target = None)
        store.overwrite("sat_customer", sat)
        // the forget set stays a DATAFRAME end to end (deleteWhereKeys
        // semi-joins it into the tombstone build) — a production GDPR
        // batch is millions of keys, which breaks an `isin` literal plan
        // long before it breaks the driver
        val forgetHks = rd(s, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select(Hashing.hashkey(Seq(col("c_custkey"))).as("hk_customer_h"))
        def forget(table: String): (Long, Long, Long, Long, Boolean, Boolean) = {
          val before = store.read(table).count()
          val v0 = store.currentVersion(table).get
          val filesBefore = store.files(table, v0)
          val nDel = store.deleteWhereKeys(table, forgetHks, Seq("hk_customer_h"))
          val v1 = store.currentVersion(table).get
          val untouched = store.files(table, v1) == filesBefore
          val after = store.read(table).count()
          val remaining = store.read(table)
            .join(forgetHks, Seq("hk_customer_h"), "leftsemi").count()
          store.compact(table, targetFiles = 1)
          val erased = store.manifest(table,
            store.currentVersion(table).get).edels.isEmpty &&
            store.read(table).count() == after
          (before, nDel, after, remaining, untouched, erased)
        }
        val (hb, hf, ha, hr, hu, he) = forget("hub_customer")
        val (sb, sf, sa, sr, su, se) = forget("sat_customer")
        Seq(("hub_customer", hb, hb - ha, ha, hr, hu, he),
          ("sat_customer", sb, sb - sa, sa, sr, su, se))
          .toDF("table_name", "rows_before", "rows_forgotten", "rows_after",
            "remaining_matches", "delete_touched_no_files",
            "physically_erased")
          .withColumn("n_forgotten_keys",
            when(col("table_name") === "hub_customer", lit(hf)).otherwise(lit(sf)))
      },
      Some(s"""WITH $satV0Sql,
              |fhk AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk
              |  FROM customer WHERE c_custkey % 97 = 0),
              |hubc AS (
              |  SELECT cast(count(*) AS BIGINT) AS nb,
              |    cast(sum(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END)
              |      AS BIGINT) AS nf
              |  FROM customer),
              |satc AS (
              |  SELECT cast(count(*) AS BIGINT) AS nb,
              |    cast(sum(CASE WHEN hk_customer_h IN (SELECT hk FROM fhk)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS nf
              |  FROM sat_v0)
              |SELECT 'hub_customer' AS table_name, nb AS rows_before,
              |  nf AS rows_forgotten, nb - nf AS rows_after,
              |  cast(0 AS BIGINT) AS remaining_matches,
              |  TRUE AS delete_touched_no_files, TRUE AS physically_erased,
              |  (SELECT cast(count(*) AS BIGINT) FROM fhk) AS n_forgotten_keys
              |FROM hubc
              |UNION ALL
              |SELECT 'sat_customer', nb, nf, nb - nf, cast(0 AS BIGINT),
              |  TRUE, TRUE, (SELECT cast(count(*) AS BIGINT) FROM fhk)
              |FROM satc""".stripMargin)),

    // DBT SNAPSHOT (check strategy): the OTHER SCD2 contract dbt users
    // run beside the vault — `dbt snapshot` with check_cols compares two
    // source states and maintains (dbt_valid_from, dbt_valid_to) with
    // hard-delete invalidation. Composed from the SAME primitives as the
    // vault: one Cdc.diff between the runs classifies I/U/D, then pure
    // projections assemble the snapshot rows (changed/deleted rows close
    // at run 2's timestamp, new versions/inserts open). Run-2 source:
    // balances +5 for key%4=0, key%31=0 hard-deleted, 3 new keys.
    Q("dbt_snapshot_check",
      (s, dir) => {
        val ts1 = "2024-07-01 00:00:00"
        val ts2 = "2024-07-02 00:00:00"
        val run1 = rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        val run2 = run1.filter(col("c_custkey") % 31 =!= 0)
          .withColumn("bal_cents",
            when(col("c_custkey") % 4 === 0, col("bal_cents") + 500)
              .otherwise(col("bal_cents")))
          .unionByName(s.range(1, 4)
            .select((-col("id")).as("c_custkey"), lit("NEW").as("c_name"),
              lit(0L).as("bal_cents")))
        val feed = graft.runtime.Cdc.diff(run1, run2, Seq("c_custkey"))
          .localCheckpoint()
        val closedKeys = feed.filter(col("op").isin("U", "D"))
          .select(col("c_custkey"), lit(ts2).cast("timestamp").as("vt"))
        // run-1 versions: valid_to closes for changed/deleted keys
        val v1rows = run1.join(closedKeys, Seq("c_custkey"), "left")
          .select(col("c_custkey"), col("c_name"), col("bal_cents"),
            lit(ts1).cast("timestamp").as("dbt_valid_from"),
            col("vt").as("dbt_valid_to"))
        // run-2 versions: new images of U + I open at ts2
        val v2rows = feed.filter(col("op").isin("U", "I"))
          .select(col("c_custkey"), col("new_c_name").as("c_name"),
            col("new_bal_cents").as("bal_cents"),
            lit(ts2).cast("timestamp").as("dbt_valid_from"),
            lit(null).cast("timestamp").as("dbt_valid_to"))
        v1rows.unionByName(v2rows)
          .select(col("c_custkey"), col("c_name"),
            round(col("bal_cents").cast("double") / 100.0, 2).as("acctbal"),
            col("dbt_valid_from"), col("dbt_valid_to"),
            col("dbt_valid_to").isNull.as("is_current"))
      },
      Some("""WITH base AS (
             |  SELECT c_custkey, c_name,
             |    cast(round(c_acctbal * 100) AS BIGINT) AS bal_cents
             |  FROM customer)
             |SELECT c_custkey, c_name,
             |  round(cast(bal_cents AS double) / 100.0, 2) AS acctbal,
             |  timestamp '2024-07-01 00:00:00' AS dbt_valid_from,
             |  CASE WHEN c_custkey % 31 = 0 OR c_custkey % 4 = 0
             |    THEN timestamp '2024-07-02 00:00:00' END AS dbt_valid_to,
             |  NOT (c_custkey % 31 = 0 OR c_custkey % 4 = 0) AS is_current
             |FROM base
             |UNION ALL
             |SELECT c_custkey, c_name,
             |  round(cast(bal_cents + 500 AS double) / 100.0, 2),
             |  timestamp '2024-07-02 00:00:00', NULL, TRUE
             |FROM base WHERE c_custkey % 4 = 0 AND c_custkey % 31 <> 0
             |UNION ALL
             |SELECT -i, 'NEW', 0.0,
             |  timestamp '2024-07-02 00:00:00', NULL, TRUE
             |FROM generate_series(1, 3) AS g(i)""".stripMargin)),

    // CHANGE DATA FEED between two table versions, driver-verified:
    // v1 (initial append) → v2 (MERGE: even keys updated, %5 keys
    // inserted) → v3 (overwrite dropping %3 keys — deletes). The CDC
    // v1→v3 is computed retroactively by graft.runtime.Cdc.diff — one
    // full-outer key join over the two version snapshots, op ∈ I/U/D,
    // unchanged keys dropped, NULL-safe value compare. Rows inserted at
    // v2 and deleted again by v3 correctly never appear (net-zero across
    // the diffed range). See Cdc.scala for the 100 TB cost argument.
    Q("txlog_cdc",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txcdc")
        val t = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
        t.append("t", base) // v1
        val delta = base.filter(col("n_nationkey") % 2 === 0)
          .withColumn("n_name", concat(col("n_name"), lit("!")))
          .unionByName(base.filter(col("n_nationkey") % 5 === 0)
            .select((col("n_nationkey") + lit(100L)).as("n_nationkey"),
              lit("NEW").as("n_name")))
        t.merge("t", delta, Seq("n_nationkey")) // v2
        t.overwrite("t", t.read("t").filter(col("n_nationkey") % 3 =!= 0)) // v3
        graft.runtime.Cdc.diff(
          t.readVersion("t", 1), t.readVersion("t", 3), Seq("n_nationkey"))
      },
      Some("""WITH v1 AS (SELECT n_nationkey, n_name FROM nation),
             |v3 AS (
             |  SELECT n_nationkey,
             |    CASE WHEN n_nationkey % 2 = 0 THEN n_name || '!' ELSE n_name END
             |      AS n_name
             |  FROM nation WHERE n_nationkey % 3 <> 0
             |  UNION ALL
             |  SELECT n_nationkey + 100, 'NEW' FROM nation
             |  WHERE n_nationkey % 5 = 0 AND (n_nationkey + 100) % 3 <> 0)
             |SELECT CASE WHEN v1.n_nationkey IS NULL THEN 'I'
             |            WHEN v3.n_nationkey IS NULL THEN 'D'
             |            ELSE 'U' END AS op,
             |  coalesce(v1.n_nationkey, v3.n_nationkey) AS n_nationkey,
             |  v1.n_name AS old_n_name, v3.n_name AS new_n_name
             |FROM v1 FULL JOIN v3 ON v1.n_nationkey = v3.n_nationkey
             |WHERE v1.n_nationkey IS NULL OR v3.n_nationkey IS NULL
             |   OR v1.n_name <> v3.n_name""".stripMargin)),

    // OPTIMIZE + VACUUM lifecycle, driver-verified: four small appends
    // (the small-file problem every incremental vault accretes), one
    // compaction commit down to a single clustered file, then a vacuum
    // that physically deletes the pre-compaction files of expired
    // versions. `files_after` is emitted AS A COLUMN so the physical
    // property — exactly one live file — is oracle-checked, and the row
    // payload proves vacuum never touches files the current version
    // references.
    Q("txlog_compact",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txcompact")
        val t = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "nation")
        (0 to 3).foreach(i => t.append("t", base.filter(col("n_nationkey") % 4 === i)))
        t.compact("t", targetFiles = 1)
        t.vacuum("t", retainVersions = 1)
        val after = t.files("t", t.currentVersion("t").get).size
        t.read("t").withColumn("files_after", lit(after.toLong))
      },
      Some("SELECT nation.*, cast(1 AS BIGINT) AS files_after FROM nation")),

    // Per-file min/max data skipping, driver-verified: three
    // key-range-disjoint single-file batches and a range read whose
    // planned scan keeps ONE of the three files (`files_scanned`, from
    // LogScan.keptFiles, emitted as a column against the oracle's
    // constant); the read still applies the exact predicate — the
    // contract every lake format's skipping follows (prune is a
    // superset, the filter still runs).
    Q("txlog_skipping",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txskip")
        val t = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "orders")
        t.append("t", base.filter(col("o_orderkey") < 5000).coalesce(1))
        t.setStatsColumns("t", Seq("o_orderkey")) // backfills file 1; later
        t.append("t", base.filter(col("o_orderkey").between(5000, 9999)).coalesce(1))
        t.append("t", base.filter(col("o_orderkey") >= 10000).coalesce(1))
        val live = t.files("t", t.currentVersion("t").get).size
        val ranged = t.read("t").where(col("o_orderkey").between(6000, 7000))
        ranged
          .withColumn("files_live", lit(live.toLong))
          .withColumn("files_scanned", lit(graft.sources.LogScan.keptFiles(ranged).size.toLong))
      },
      Some("""SELECT orders.*, cast(3 AS BIGINT) AS files_live,
             |  cast(1 AS BIGINT) AS files_scanned
             |FROM orders WHERE o_orderkey BETWEEN 6000 AND 7000""".stripMargin)),

    // Exactly-once append contract, driver-verified: every batch is
    // applied TWICE (the at-least-once replay foreachBatch alone cannot
    // exclude) through appendOnce's (appId, batchVersion) manifest
    // markers; the oracle is the plain un-duplicated table — any
    // double-apply fails the row-count compare.
    Q("txlog_exactly_once",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txonce")
        val t = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "nation")
        Seq(0L, 1L).foreach { b =>
          val part = base.filter(col("n_nationkey") % 2 === b)
          t.appendOnce("t", part, "loader", b)
          t.appendOnce("t", part, "loader", b) // replay of the same batch
        }
        t.read("t")
      },
      Some("SELECT * FROM nation")),

    // The SQL-facing surface: a vault materialized through TxLogTable is
    // queryable from plain spark.sql via registerViews — the dbt-user
    // contract (models are tables you SELECT from). Views are lazy scans,
    // so the SQL join plans identically to the DataFrame equivalent.
    Q("vault_sql_views",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_sqlviews")
        val store = new graft.runtime.TxLogTable(s, wh)
        val c = custStage(s, dir)
        store.overwrite("customer_h",
          c.select(col("hk_customer_h"), col("c_custkey"), col(LdtsAlias), col(RsrcAlias)))
        store.overwrite("customer_s",
          c.withColumn("hd_customer_s",
              Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal"))))
            .select(col("hk_customer_h"), col("hd_customer_s"),
              col("c_name"), col("c_acctbal")))
        store.registerViews("dv_")
        s.sql("""SELECT h.c_custkey, s.c_name, s.c_acctbal
                |FROM dv_customer_h h
                |JOIN dv_customer_s s ON s.hk_customer_h = h.hk_customer_h""".stripMargin)
      },
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer")),

    // S7/S9 oracle-checked — whole-vault rehash MD5 → SHA256: hub
    // rehashed, satellite re-keyed through the hub's (deprecated → current)
    // columns with its hashdiff recomputed under the new algorithm; the
    // returned satellite is the post-rehash, post-cleanup state,
    // oracle-checked against directly-computed SHA256 hashes.
    Q("rehash_vault",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_rehash")
        val store = new graft.runtime.TxLogTable(s, wh)
        val sha = HashConfig(algorithm = "SHA256")
        val c = custStage(s, dir)
        store.overwrite("customer_h",
          c.select(col("hk_customer_h"), col("c_custkey"), col(LdtsAlias), col(RsrcAlias)))
        store.overwrite("customer_s",
          c.withColumn("hd_customer_s",
              Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal"))))
            .select(col("hk_customer_h"), col("hd_customer_s"), col(LdtsAlias),
              col(RsrcAlias), col("c_name"), col("c_acctbal")))
        val hubs = Seq(TxRehash.HubRehash("customer_h", "hk_customer_h", Seq("c_custkey")))
        val sats = Seq(TxRehash.SatRehash("customer_s", "hk_customer_h",
          Some("hd_customer_s"), Seq("c_name", "c_acctbal"), "customer_h"))
        TxRehash.rehashAll(store, hubs, Nil, sats, oldCfg = hc, newCfg = sha)
        TxRehash.dropDeprecatedAll(store, hubs, Nil, sats)
        store.read("customer_s").select("hk_customer_h", "hd_customer_s", "c_name", "c_acctbal")
      },
      Some(s"""SELECT ${O.hashkeySha256("c_custkey")} AS hk_customer_h,
              |  ${O.hashdiffSha256("c_name", "c_acctbal")} AS hd_customer_s,
              |  c_name, c_acctbal
              |FROM customer""".stripMargin)),

    // Whole-vault rehash on the TRANSACTIONAL format
    // (rehash_all_rdv_entities.sql:139-151 on a live table): hubs, then the
    // LINK — its hashkey recomputed from both parents' business keys and
    // both FKs re-keyed through the hubs' (deprecated → current) columns —
    // each entity through the metadata-only ADD/RENAME + one-atomic-rewrite
    // lifecycle (TxRehash). The returned link is the post-rehash,
    // post-cleanup state, oracle-checked against directly-computed SHA256.
    Q("txlog_rehash_vault",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txrehash")
        val t = new graft.runtime.TxLogTable(s, wh)
        val cust = rd(s, dir, "customer")
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
        val ord = rd(s, dir, "orders")
          .withColumn("hk_order_h", Hashing.hashkey(Seq(col("o_orderkey"))))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))
          .withColumn("lk_customer_order_l",
            Hashing.hashkey(Seq(col("o_custkey"), col("o_orderkey"))))
        t.overwrite("customer_h", cust.select("hk_customer_h", "c_custkey"))
        t.overwrite("order_h", ord.select("hk_order_h", "o_orderkey"))
        t.overwrite("customer_order_l",
          ord.select("lk_customer_order_l", "hk_customer_h", "hk_order_h"))
        val hubs = Seq(
          TxRehash.HubRehash("customer_h", "hk_customer_h", Seq("c_custkey")),
          TxRehash.HubRehash("order_h", "hk_order_h", Seq("o_orderkey")))
        val links = Seq(TxRehash.LinkRehash(
          "customer_order_l", "lk_customer_order_l", Seq(
            TxRehash.LinkHubRef("hk_customer_h", "customer_h", Seq("c_custkey")),
            TxRehash.LinkHubRef("hk_order_h", "order_h", Seq("o_orderkey")))))
        TxRehash.rehashAll(t, hubs, links, Nil,
          oldCfg = hc, newCfg = HashConfig(algorithm = "SHA256"))
        TxRehash.dropDeprecatedAll(t, hubs, links, Nil)
        t.read("customer_order_l")
      },
      Some(s"""SELECT ${O.hashkeySha256("o_custkey", "o_orderkey")} AS lk_customer_order_l,
              |  ${O.hashkeySha256("o_custkey")} AS hk_customer_h,
              |  ${O.hashkeySha256("o_orderkey")} AS hk_order_h
              |FROM orders""".stripMargin)),

    // Whole-vault rehash, SATELLITE leg (rehash_all_rdv_entities.sql:238-312
    // satellite loop): a regular sat (hashdiff over its own payload) and an
    // MA sat (grouped set-hashdiff per (hk, ldts), ma key o_orderkey) are
    // re-keyed through the hub's (deprecated → current) map and their
    // hashdiffs recomputed under SHA256 — the returned frame is the
    // post-rehash, post-cleanup state of BOTH sats, hash-checked against
    // directly-computed SHA256 (incl. the ordered-LISTAGG MA hashdiff).
    Q("txlog_rehash_sats",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txrsats")
        val t = new graft.runtime.TxLogTable(s, wh)
        val ldts = lit("2024-01-01 00:00:00").cast("timestamp")
        val cust = rd(s, dir, "customer")
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
        val ord = rd(s, dir, "orders")
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))
        t.overwrite("customer_h", cust.select("hk_customer_h", "c_custkey"))
        t.overwrite("customer_s", cust
          .withColumn("ldts", ldts)
          .withColumn("hd_customer_s",
            Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal"))))
          .select("hk_customer_h", "hd_customer_s", "ldts", "c_name", "c_acctbal"))
        val maGrouped = ord.groupBy("hk_customer_h")
          .agg(Hashing.maHashdiff(Seq(col("o_orderstatus"), col("o_totalprice")),
            Seq(col("o_orderkey"))).as("hd_orders_ms"))
        t.overwrite("orders_ms", ord.join(maGrouped, Seq("hk_customer_h"))
          .withColumn("ldts", ldts)
          .select("hk_customer_h", "hd_orders_ms", "ldts",
            "o_orderkey", "o_orderstatus", "o_totalprice"))
        val hubs = Seq(TxRehash.HubRehash(
          "customer_h", "hk_customer_h", Seq("c_custkey")))
        val sats = Seq(
          TxRehash.SatRehash("customer_s", "hk_customer_h",
            Some("hd_customer_s"), Seq("c_name", "c_acctbal"), "customer_h"),
          TxRehash.SatRehash("orders_ms", "hk_customer_h",
            Some("hd_orders_ms"), Seq("o_orderstatus", "o_totalprice"),
            "customer_h", maKeys = Seq("o_orderkey")))
        TxRehash.rehashAll(t, hubs, Nil, sats,
          oldCfg = hc, newCfg = HashConfig(algorithm = "SHA256"))
        TxRehash.dropDeprecatedAll(t, hubs, Nil, sats)
        t.read("orders_ms")
          .join(t.read("customer_s")
            .select("hk_customer_h", "hd_customer_s", "c_name", "c_acctbal"),
            Seq("hk_customer_h"))
          .select("hk_customer_h", "hd_orders_ms", "o_orderkey", "o_orderstatus",
            "o_totalprice", "hd_customer_s", "c_name", "c_acctbal")
      },
      Some(s"""WITH ms AS (
              |  SELECT ${O.hashkeySha256("o_custkey")} AS hk_customer_h,
              |         ${O.maHashdiffSha256(Seq("o_orderstatus", "o_totalprice"), Seq("o_orderkey"))} AS hd_orders_ms
              |  FROM orders GROUP BY 1),
              |cs AS (
              |  SELECT ${O.hashkeySha256("c_custkey")} AS hk_customer_h,
              |         ${O.hashdiffSha256("c_name", "c_acctbal")} AS hd_customer_s,
              |         c_name, c_acctbal
              |  FROM customer)
              |SELECT o.hk_customer_h, m.hd_orders_ms, o.o_orderkey, o.o_orderstatus,
              |       o.o_totalprice, c.hd_customer_s, c.c_name, c.c_acctbal
              |FROM (SELECT ${O.hashkeySha256("o_custkey")} AS hk_customer_h,
              |             o_orderkey, o_orderstatus, o_totalprice FROM orders) o
              |JOIN ms m ON o.hk_customer_h = m.hk_customer_h
              |JOIN cs c ON o.hk_customer_h = c.hk_customer_h""".stripMargin)),

    // S8 on the transactional format (clean_up_pits.sql:128-136): DELETE of
    // deactivated snapshots compiled onto replaceFiles — only files holding
    // doomed rows are rewritten (asserted by TxMaintenanceSpec); the
    // returned PIT is the post-DELETE state.
    Q("txlog_pit_cleanup",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_txpit")
        val t = new graft.runtime.TxLogTable(s, wh)
        val hk = rd(s, dir, "customer")
          .select(Hashing.hashkey(Seq(col("c_custkey"))).as("hk_customer_h"))
        // one clustered write job lands all 3 snapshot days one-day-per-file
        // (the layout 3 per-day appends produced) without re-scanning and
        // re-hashing customer per day (guide §1.2)
        // cluster key is an INT day index; the timestamp itself would do as
        // well, since the cleaner maps rows to files by their scan path
        t.appendClustered("pit", hk.withColumn("sdts",
          explode(array(Seq("2024-01-01", "2024-01-02", "2024-01-03")
            .map(d => lit(d).cast("timestamp")): _*))),
          dayofmonth(col("sdts")), buckets = 3)
        t.overwrite("snap", s.sql(
          """SELECT timestamp'2024-01-01' AS sdts, true AS is_active
            |UNION ALL SELECT timestamp'2024-01-02', false
            |UNION ALL SELECT timestamp'2024-01-03', true""".stripMargin))
        graft.runtime.TxPitCleaner.cleanUp(t, "pit", "snap")
        t.read("pit")
      },
      Some(s"""SELECT ${O.hashkey("c_custkey")} AS hk_customer_h, s.sdts
              |FROM customer, (SELECT timestamp '2024-01-01' AS sdts
              |  UNION ALL SELECT timestamp '2024-01-03') s""".stripMargin)),

    // COMPOSED post-hook (clean_up_pits.sql:128-136 AFTER a
    // control_snap_v1.sql:109,171-185 log_logic flip) — the exact sequence
    // the reference runs on schedule: a PIT materialized while EVERY daily
    // snapshot was active, then three weeks later the v1 control narrows
    // retention (daily=7 DAY + monthly forever at referenceTs 2024-02-21
    // 12:00), and the cleanup hook deletes every PIT row whose sdts is no
    // longer an active snapshot. Both halves are individually green
    // (txlog_pit_cleanup, snap_v1_multi); this row verifies the
    // COMPOSITION: the flip's trigger column drives the DELETE.
    Q("pit_cleanup_log_logic",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_pitll")
        val t = new graft.runtime.TxLogTable(s, wh)
        val v0 = SatV0Loader.records(cust3Batch(s, dir), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal_v", "c_mktsegment"), target = None)
        val v1 = SatV1Loader.build(v0, "hk_customer_h", Some("hd_customer_s"))
        val hub = custStage(s, dir).select("hk_customer_h").distinct()
        val spine = ControlSnapV0Loader.build(s, "2024-02-01", "12:00:00", Some("2024-02-21"))
          .withColumn("is_active", lit(true))
        val pit = PitLoader.records(hub, "hk_customer_h",
          Seq(PitSatellite("customer_s", v1)), spine, "dim_key_customer")
        // land the PIT in sdts-ranged chunks: the cleaner's file pruning
        // wants per-file sdts ranges, the layout a per-snapshot
        // incremental PIT load produces naturally. ONE clustered write
        // job lays the same weekly ranges out one-range-per-file
        // (appendClustered) — the 3 ranged appends it replaces each
        // re-executed the ENTIRE PIT build plan (3× the cross-join +
        // temporal join work) plus a commit apiece (guide §1.2: remove
        // repeated passes; §2.4: one shuffle where three jobs were).
        t.appendClustered("pit", pit,
          when(col("sdts") < lit("2024-02-08").cast("timestamp"), 0)
            .when(col("sdts") < lit("2024-02-15").cast("timestamp"), 1)
            .otherwise(2), buckets = 3)
        // the log_logic FLIP: rebuild the v1 control with narrowed retention
        val snapV1 = ControlSnapV1Loader.buildMulti(
          ControlSnapV0Loader.build(s, "2024-02-01", "12:00:00", Some("2024-02-21")),
          Seq(SnapshotTrigger("is_active", daily = Some(IntervalLogic(7, "DAY")),
            monthly = Some(IntervalLogic.forever))),
          referenceTs = Some("2024-02-21 12:00:00"))
        t.overwrite("snap", snapV1.select("sdts", "is_active"))
        // the post-hook DELETE (clean_up_pits.sql databricks__clean_up_pit)
        graft.runtime.TxPitCleaner.cleanUp(t, "pit", "snap")
        t.read("pit")
      },
      Some(s"""WITH $satV0Sql,
              |sat_v1 AS (
              |  SELECT *, COALESCE(LEAD(ldts - INTERVAL 1 MICROSECOND)
              |    OVER (PARTITION BY hk_customer_h ORDER BY ldts),
              |    timestamp '8888-12-31 23:59:59') AS ledts FROM sat_v0),
              |hub AS (SELECT DISTINCT hk_customer_h FROM hashed),
              |snaps AS (
              |  SELECT unnest(generate_series(timestamp '2024-02-01 12:00:00',
              |    timestamp '2024-02-22 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts),
              |active AS (
              |  SELECT sdts FROM snaps
              |  WHERE (sdts BETWEEN timestamp '2024-02-14 12:00:00' AND timestamp '2024-02-21 12:00:00')
              |     OR day(sdts) = 1),
              |pit AS (
              |  SELECT ${O.hashkey("te.hk_customer_h", "snap.sdts")} AS dim_key_customer,
              |    te.hk_customer_h, snap.sdts,
              |    COALESCE(s.hk_customer_h, '${O.ZeroKey}') AS hk_customer_s,
              |    COALESCE(s.ldts, timestamp '0001-01-01 00:00:01') AS ldts_customer_s
              |  FROM hub te CROSS JOIN active snap
              |  LEFT JOIN sat_v1 s ON s.hk_customer_h = te.hk_customer_h
              |    AND snap.sdts BETWEEN s.ldts AND s.ledts)
              |SELECT DISTINCT * FROM pit""".stripMargin)),

    // MULTI-SOURCE LINK, POSITIONALLY-MAPPED FKs (link.sql:200-204:
    // `{{ fk }} AS {{ foreign_hashkeys[loop.index - 1] }}` — each source's
    // fk_columns rename to the link's foreign_hashkeys BY POSITION; SURVEY
    // §7.5-3 names this the silent-wrong risk). Source B's columns are
    // deliberately named MISLEADINGLY and listed in shuffled order: its
    // column NAMED hk_customer_h holds the NATION hashkey and vice versa.
    // A by-name union would swap B's foreign keys and still produce a
    // plausible-looking link — only the positional contract (B's
    // keyColumns list leads with the column holding the PARTY hashkey)
    // yields the oracle's values.
    Q("link_positional_multi_source",
      (s, dir) => {
        val a = rd(s, dir, "customer")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(c_custkey % 3 as int), timestamp'2024-01-01 00:00:00')"))
          .withColumn(RsrcAlias, lit("SRC_A"))
          .withColumn("hk_party_nation_l",
            Hashing.hashkey(Seq(col("c_custkey"), col("c_nationkey"))))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
          .withColumn("hk_nation_h", Hashing.hashkey(Seq(col("c_nationkey"))))
        val b = rd(s, dir, "supplier")
          .withColumn(LdtsAlias,
            expr("timestampadd(DAY, cast(s_suppkey % 2 as int), timestamp'2024-01-04 00:00:00')"))
          .withColumn(RsrcAlias, lit("SRC_B"))
          .withColumn("hk_party_nation_l",
            Hashing.hashkey(Seq(col("s_suppkey"), col("s_nationkey"))))
          .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("s_nationkey")))) // nation hk under a customer name
          .withColumn("hk_nation_h", Hashing.hashkey(Seq(col("s_suppkey"))))     // party hk under a nation name
        LinkLoader.records(Seq(
          EntitySource(a, Some("hk_party_nation_l"), Seq("hk_customer_h", "hk_nation_h")),
          EntitySource(b, Some("hk_party_nation_l"), Seq("hk_nation_h", "hk_customer_h"))),
          "hk_party_nation_l", Seq("hk_party_h", "hk_nation_h"), target = None)
      },
      Some(s"""WITH a AS (
              |  SELECT ${O.hashkey("c_custkey", "c_nationkey")} AS hk_party_nation_l,
              |         ${O.hashkey("c_custkey")} AS hk_party_h,
              |         ${O.hashkey("c_nationkey")} AS hk_nation_h,
              |         timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'SRC_A' AS rsrc
              |  FROM customer),
              |b AS (
              |  SELECT ${O.hashkey("s_suppkey", "s_nationkey")} AS hk_party_nation_l,
              |         ${O.hashkey("s_suppkey")} AS hk_party_h,
              |         ${O.hashkey("s_nationkey")} AS hk_nation_h,
              |         timestamp '2024-01-04 00:00:00' + (s_suppkey % 2) * INTERVAL 1 DAY AS ldts,
              |         'SRC_B' AS rsrc
              |  FROM supplier),
              |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
              |SELECT hk_party_nation_l, hk_party_h, hk_nation_h, ldts, rsrc FROM u
              |QUALIFY ROW_NUMBER() OVER (PARTITION BY hk_party_nation_l ORDER BY ldts) = 1""".stripMargin)),

    // hash_datatype=BINARY (hash.sql:42,109,177; hash_default_values.sql:
    // 49-52): digests stored as raw bytes, zero key = 16 0x00 bytes (no '!'
    // sentinel), and the PIT dimension key hashes the HEX-CAST binary
    // hashkey (databricks/pit.sql:10-14 TO_HEX). The driver compares via
    // lowercase hex so DuckDB sees strings: hex(unhex(md5)) == md5.
    Q("hub_binary_hash",
      (s, dir) => {
        val bin = HashConfig(hashDatatype = "BINARY")
        val src = rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .unionByName(s.sql(
            """SELECT CAST(NULL AS BIGINT) c_custkey, CAST(NULL AS STRING) c_name,
              |       CAST(NULL AS DOUBLE) c_acctbal""".stripMargin))
        val sdts = lit("2024-02-01 00:00:00").cast("timestamp")
        val withHk = src
          .withColumn("hk_bin", Hashing.hashkey(Seq(col("c_custkey")))(bin))
          .withColumn("hd_bin",
            Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal")))(bin))
        withHk.select(
          lower(hex(col("hk_bin"))).as("hk_hex"),
          lower(hex(col("hd_bin"))).as("hd_hex"),
          lower(hex(Hashing.hashkey(
            Seq(lower(hex(col("hk_bin"))), sdts))(bin))).as("dim_key_hex"),
          col("c_custkey"))
      },
      Some {
        val z32 = "0" * 32
        s"""WITH src AS (
           |  SELECT c_custkey, c_name, c_acctbal FROM customer
           |  UNION ALL SELECT NULL, NULL, NULL),
           |hashed AS (
           |  SELECT c_custkey,
           |    coalesce(lower(md5(${O.concatStd(Seq("c_custkey"), caseSensitive = false)})), '$z32') AS hk_hex,
           |    coalesce(lower(md5(${O.concatStd(Seq("c_name", "c_acctbal"), caseSensitive = true)})), '$z32') AS hd_hex,
           |    timestamp '2024-02-01 00:00:00' AS sdts
           |  FROM src)
           |SELECT hk_hex, hd_hex,
           |  coalesce(lower(md5(${O.concatStd(Seq("hk_hex", "sdts"), caseSensitive = false)})), '$z32') AS dim_key_hex,
           |  c_custkey
           |FROM hashed""".stripMargin
      }),

    // Runner: DAG + dbt-style selection + execution-aware source pruning
    // (SURVEY §7.1; source_models.sql:40-62, source_model_should_be_selected
    // .sql:1-15). Two runs over a stage→hub→sat subgraph:
    //  run A (full): hub unions BOTH stages — evens from customer, the rest
    //    from orders (earliest ldts wins);
    //  run B (select "stage_customer+"): stage_orders is NOT selected, so
    //    the hub loads ONLY the customer stage — run B's orders batch
    //    carries poisoned keys (+1 000 000) that must never appear, which
    //    makes a pruning failure oracle-visible, not just slow.
    // The returned frame joins the final hub with per-key satellite
    // evolution (evens: 2 versions — balance drifted; odds: 1), proving the
    // chain ran in dependency order on both passes.
    Q("runner_vault",
      (s, dir) => {
        import graft.runtime.{Materialization, Runner, VaultModel}
        val wh = tmpWarehouse("graft_q_runner")
        val store = new graft.runtime.TxLogTable(s, wh)
        val cust = rd(s, dir, "customer")
        val ord = rd(s, dir, "orders")
        def custBatch(base: String, evenOnly: Boolean, drift: Double) = {
          val f = if (evenOnly) cust.filter(col("c_custkey") % 2 === 0) else cust
          f.select(col("c_custkey"), col("c_name"),
              (col("c_acctbal") + drift).as("c_acctbal"))
            .withColumn(LdtsAlias,
              expr(s"timestampadd(DAY, cast(c_custkey % 3 as int), timestamp'$base')"))
        }
        def ordBatch(base: String, key: Column => Column) =
          ord.select(key(col("o_custkey")).as("o_custkey"), col("o_orderkey"))
            .withColumn(LdtsAlias,
              expr(s"timestampadd(DAY, cast(o_orderkey % 3 as int), timestamp'$base')"))
        val models = Seq(
          VaultModel("stage_customer", deps = Seq("customer_src"),
            materialization = Materialization.View)(ctx =>
            ctx.resolve("customer_src")
              .withColumn(RsrcAlias, lit("TPC_H/Customer"))
              .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
              .withColumn("hd_customer_s",
                Hashing.hashdiff(Seq(col("c_name"), col("c_acctbal"))))),
          VaultModel("stage_orders", deps = Seq("orders_src"),
            materialization = Materialization.View)(ctx =>
            ctx.resolve("orders_src")
              .withColumn(RsrcAlias, lit("TPC_H/Orders"))
              .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("o_custkey"))))),
          VaultModel("customer_h",
            sourceModels = Seq("stage_customer", "stage_orders"))(ctx =>
            HubLoader.records(
              ctx.sources.map {
                case "stage_customer" => EntitySource(ctx.resolve("stage_customer"),
                  Some("hk_customer_h"), Seq("c_custkey"))
                case "stage_orders" => EntitySource(ctx.resolve("stage_orders"),
                  Some("hk_customer_h"), Seq("o_custkey"))
              },
              "hk_customer_h", Seq("custkey"), ctx.target)),
          VaultModel("customer_s", deps = Seq("stage_customer", "customer_h"))(ctx =>
            SatV0Loader.records(ctx.resolve("stage_customer"), Seq("hk_customer_h"),
              Some("hd_customer_s"), Seq("c_name", "c_acctbal"), ctx.target)))
        new Runner(s, store, models, {
          case "customer_src" => custBatch("2024-01-01 00:00:00", evenOnly = true, 0.0)
          case "orders_src"   => ordBatch("2024-01-04 00:00:00", identity)
          case other          => throw new IllegalArgumentException(other)
        }).run()
        new Runner(s, store, models, {
          case "customer_src" => custBatch("2024-02-01 00:00:00", evenOnly = false, 5.0)
          // poison keys NEGATIVE by pure negation: any fixed shift (even a
          // negative one) re-enters the real keyspace once custkeys outgrow
          // it, silently weakening the pruning-failure detection this batch
          // is for — -k - 1 is out-of-domain at EVERY SF (keys are ≥ 0)
          case "orders_src"   => ordBatch("2024-02-04 00:00:00", k => -k - 1)
          case other          => throw new IllegalArgumentException(other)
        }).run("stage_customer+")
        val sat = store.read("customer_s").groupBy("hk_customer_h")
          .agg(count(lit(1)).as("sat_rows"), max("c_acctbal").as("max_bal"))
        store.read("customer_h")
          .join(sat, Seq("hk_customer_h"))
          .select("hk_customer_h", "custkey", LdtsAlias, RsrcAlias, "sat_rows", "max_bal")
      },
      Some(s"""WITH cust_a AS (
              |  SELECT c_custkey, ${O.hashkey("c_custkey")} AS hk,
              |         timestamp '2024-01-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Customer' AS rsrc
              |  FROM customer WHERE c_custkey % 2 = 0),
              |ord_a AS (
              |  SELECT o_custkey AS c_custkey, ${O.hashkey("o_custkey")} AS hk,
              |         timestamp '2024-01-04 00:00:00' + (o_orderkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Orders' AS rsrc
              |  FROM orders),
              |hub_a AS (
              |  SELECT hk, c_custkey, ldts, rsrc
              |  FROM (SELECT * FROM cust_a UNION ALL SELECT * FROM ord_a)
              |  QUALIFY row_number() OVER (PARTITION BY hk ORDER BY ldts) = 1),
              |hub_b AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk, c_custkey,
              |         timestamp '2024-02-01 00:00:00' + (c_custkey % 3) * INTERVAL 1 DAY AS ldts,
              |         'TPC_H/Customer' AS rsrc
              |  FROM customer
              |  WHERE ${O.hashkey("c_custkey")} NOT IN (SELECT hk FROM hub_a)),
              |hub AS (SELECT * FROM hub_a UNION ALL SELECT * FROM hub_b),
              |sat AS (
              |  SELECT ${O.hashkey("c_custkey")} AS hk,
              |         CAST(CASE WHEN c_custkey % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS sat_rows,
              |         c_acctbal + 5.0 AS max_bal
              |  FROM customer)
              |SELECT h.hk AS hk_customer_h, h.c_custkey AS custkey, h.ldts, h.rsrc,
              |       s.sat_rows, s.max_bal
              |FROM hub h JOIN sat s ON h.hk = s.hk""".stripMargin)),

    // S9 driver-verified — DDL lifecycle (rehash_single_hub.sql:17-26,51-69):
    // add a typed column, rename, drop, returning the post-DDL table state.
    Q("ddl_lifecycle",
      (s, dir) => {
        val wh = tmpWarehouse("graft_q_ddl")
        val t = new graft.runtime.TxLogTable(s, wh)
        t.overwrite("t", rd(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
        t.addColumn("t", "n_comment_v2", "string")
        t.renameColumn("t", "n_name", "nation_name")
        t.dropColumn("t", "n_regionkey")
        t.read("t")
      },
      Some("""SELECT n_nationkey, n_name AS nation_name,
             |  cast(NULL AS varchar) AS n_comment_v2
             |FROM nation""".stripMargin)),

    // include_source_columns=false (stage.sql:109-155,610-612): only the
    // ADDED columns — system ldts/rsrc, missing, prejoined, derived, hashed —
    // survive the final projection; every source-originated input is dropped.
    Q("stage_exclude_source_cols",
      (s, dir) => {
        val cfg = StageConfig(
          ldts = "!2024-01-01 00:00:00", rsrc = "!TPC_H/Orders",
          missingColumns = Map("o_channel" -> org.apache.spark.sql.types.StringType),
          prejoins = Seq(Prejoin(
            ref = rd(s, dir, "customer"),
            extract = Seq(("c_mktsegment", "segment")),
            on = Seq(("o_custkey", "c_custkey")))),
          derivedColumns = Seq(DerivedColumn("order_year", "cast(year(o_orderdate) as int)")),
          hashedColumns = Seq(
            HashColumnSpec("hk_order_h", Seq("o_orderkey")),
            HashColumnSpec("hd_order_s", Seq("o_orderstatus", "o_totalprice"), isHashdiff = true)),
          enableGhostRecords = false,
          includeSourceColumns = false)
        StageLoader.build(rd(s, dir, "orders"), cfg)
      },
      Some(s"""SELECT timestamp '2024-01-01 00:00:00' AS ldts,
              |  'TPC_H/Orders' AS rsrc,
              |  cast(NULL AS varchar) AS o_channel,
              |  c.c_mktsegment AS segment,
              |  cast(year(o.o_orderdate) AS integer) AS order_year,
              |  ${O.hashkey("o.o_orderkey")} AS hk_order_h,
              |  ${O.hashdiff("o.o_orderstatus", "o.o_totalprice")} AS hd_order_s
              |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin)),

    // O1/O2 — latest-row probe
    Q("snap_latest_row",
      (s, _) => ControlSnapV0Loader.build(s, "2024-01-01", "07:30:00", Some("2024-03-31"))
        .orderBy(col(SdtsAlias).desc).limit(1).select("sdts", "caption"),
      Some(s"""WITH series AS (
              |  SELECT unnest(generate_series(timestamp '2024-01-01 07:30:00',
              |    timestamp '2024-04-01 00:00:00' - INTERVAL 1 MICROSECOND, INTERVAL 1 DAY)) AS sdts)
              |SELECT sdts, 'Snapshot ' || cast(cast(sdts AS date) AS varchar) AS caption
              |FROM series WHERE sdts < timestamp '2024-04-01 00:00:00'
              |ORDER BY sdts DESC LIMIT 1""".stripMargin))
  )
}
