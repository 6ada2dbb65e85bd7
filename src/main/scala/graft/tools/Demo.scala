package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.expr.{HashConfig, SystemColumns}
import graft.loaders._
import graft.runtime.{Materialization, Runner, TxLogTable, VaultModel}

/** End-to-end drive of the core pipeline over real test data, scheduled by
  * the DAG [[Runner]]: stage(customer) → hub → sat v0 → sat v1, two
  * incremental batches, idempotence check. `sbt "runMain graft.tools.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    implicit val hc: HashConfig = HashConfig()
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = LocalSpark.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wh = java.nio.file.Files.createTempDirectory("graft_demo_wh").toString
    val store = new TxLogTable(spark, wh)
    val customer = spark.read.parquet(s"$sfDir/customer.parquet")

    // batch t: half the customers on day 1, all on day 2 (acctbal drifts)
    def batch(day: Int) = {
      val src = if (day == 1) customer.filter(col("c_custkey") % 2 === 0) else customer
      src.withColumn("c_acctbal", col("c_acctbal") + lit(day - 1) * 10.0)
    }

    val stageCfg = StageConfig(
      ldts = "!IGNORED", rsrc = "!TPC_H/Customer",
      hashedColumns = Seq(
        HashColumnSpec("hk_customer_h", Seq("c_custkey")),
        HashColumnSpec("hd_customer_s", Seq("c_name", "c_acctbal", "c_mktsegment"), isHashdiff = true)),
      enableGhostRecords = true)

    // the vault DAG: one ephemeral stage view feeding an incremental hub
    // and sat v0, with the v1 end-dated view rebuilt as a table on top
    def models(day: Int): Seq[VaultModel] = Seq(
      VaultModel("customer_stg", deps = Seq("customer_src"),
        materialization = Materialization.View)(ctx =>
        StageLoader.build(ctx.resolve("customer_src"),
          stageCfg.copy(ldts = s"!2024-01-0$day 00:00:00"),
          isIncremental = store.exists("customer_h"))),
      VaultModel("customer_h", sourceModels = Seq("customer_stg"))(ctx =>
        HubLoader.records(
          ctx.sources.map(n =>
            EntitySource(ctx.resolve(n), Some("hk_customer_h"), Seq("c_custkey"))),
          "hk_customer_h", Seq("c_custkey"), ctx.target)),
      VaultModel("customer_s0", deps = Seq("customer_stg", "customer_h"))(ctx =>
        SatV0Loader.records(ctx.resolve("customer_stg"), Seq("hk_customer_h"),
          Some("hd_customer_s"), Seq("c_name", "c_acctbal", "c_mktsegment"),
          ctx.target)),
      VaultModel("customer_s1", deps = Seq("customer_s0"),
        materialization = Materialization.Table)(ctx =>
        SatV1Loader.build(ctx.resolve("customer_s0"), "hk_customer_h",
          Some("hd_customer_s"), addIsCurrentFlag = true)))

    def externals(day: Int): String => DataFrame = {
      case "customer_src" => batch(day)
      case other          => throw new IllegalArgumentException(other)
    }

    def count(name: String): Long =
      store.readIfExists(name).map(_.count()).getOrElse(0L)

    def load(day: Int, label: String): Unit = {
      val (h0, s0) = (count("customer_h"), count("customer_s0"))
      new Runner(spark, store, models(day), externals(day)).run()
      println(s"[demo] $label: hub+=${count("customer_h") - h0} sat+=${count("customer_s0") - s0}" +
        (if (label.startsWith("replay")) " (want 0, 0)" else ""))
    }

    load(1, "day 1")
    load(2, "day 2")
    load(2, "replay day 2") // idempotence: zero new rows

    val v1 = store.read("customer_s1")
    println(s"[demo] sat v1 rows=${v1.count()} current=${v1.filter(col("is_current")).count()}")
    v1.orderBy("hk_customer_h", "ldts").show(6, truncate = false)

    val nCust = customer.count()
    val hub = store.read("customer_h")
    println(s"[demo] customers=$nCust hub=${hub.count()} (hub == customers + 2 ghosts?)")

    // the same hub as a fresh table: versioned appends, a file-pruned
    // MERGE, time travel back to v1, and an O(1) metadata DDL
    val tx = "customer_h_tx"
    store.append(tx, hub.filter(col(SystemColumns.LdtsAlias) <= "2024-01-01 12:00:00"))
    store.append(tx, hub.filter(col(SystemColumns.LdtsAlias) > "2024-01-01 12:00:00"))
    val preMergeCount = store.read(tx).count()
    store.merge(tx,
      store.read(tx).limit(5).withColumn(SystemColumns.RsrcAlias, lit("TPC_H/Customer/fix")),
      Seq("hk_customer_h"))
    store.addColumn(tx, "loaded_by", "string")
    val v1Count = store.readVersion(tx, 1).count()
    println(s"[demo] txlog: versions=${store.versions(tx).size} rows=${store.read(tx).count()} " +
      s"(want $preMergeCount) v1=$v1Count merged_rsrc=${store.read(tx).filter(col(SystemColumns.RsrcAlias) === "TPC_H/Customer/fix").count()} (want 5)")
    spark.stop()
  }
}
