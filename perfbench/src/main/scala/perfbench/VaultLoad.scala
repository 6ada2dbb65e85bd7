package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.HashConfig
import graft.loaders._
import graft.runtime.{Materialization, Runner, TxLogTable, VaultModel}

/** `vault_load`: the product's core path. The Runner DAG stages customer,
  * orders and lineitem as views and loads 3 hubs, 2 links, 3 v0 satellites
  * and an incremental PIT (snapshot optimization) into a TxLogTable.
  * Set-up lands every batch's rows in their own partition, so a batch reads
  * only its own delta. Delta batches also re-land about 2% of earlier
  * customers and orders with changed payloads, which gives the satellites
  * new versions. Beside the batches, a [[StreamFeed]] of customer arrivals
  * loads a real-time hub and two satellites into the same TxLogTable.
  *
  * The loop runs rounds: round 0 is the bulk batch (about half the keys)
  * and the first arrival, each later round one delta batch (about 1/40 of
  * the keys) and the next arrival. Round 1 always runs; later rounds run
  * while time is left.
  */
final class VaultLoad(env: Env) extends Workload {
  import env.spark
  private implicit val hc: HashConfig = HashConfig()

  private val Deltas = 20
  val exercised = Seq("loaders.", "runner.", "txlog.", "streaming.")

  private val hubs = Seq("customer_h", "order_h", "part_h")
  private val links = Seq("order_customer_l", "lineitem_l")
  private val sats = Seq("customer_s", "order_s", "lineitem_s")
  private val pit = "customer_pit"
  private val tables = hubs ++ links ++ sats :+ pit
  private val feed = new StreamFeed(env, Deltas + 1, "customer_rt_h", "customer_rt_s",
    "customer_rt_state_s")

  private var dir: Path = _
  private var store: TimedStore = _
  /** batches loaded so far (the bulk batch is batch 0) */
  private var loaded = 0
  /** per load: (wall seconds, Σ Runner step seconds) */
  private val loads = ArrayBuffer.empty[(Double, Double)]
  /** seconds of each round whose batch and arrival both succeeded */
  private val rounds = ArrayBuffer.empty[Double]
  private var counts = Map.empty[String, Long]

  /** batch of a key: 0 (bulk) for half the keys, else 1..Deltas, seeded */
  private def batchOf(key: Column): Column = {
    val u = pmod(xxhash64(key, lit(env.seed)), lit(1000000L)) / 1e6
    when(u < 0.5, 0).otherwise(floor((u - 0.5) * 2 * Deltas).cast("int") + 1)
  }

  /** rows of `df` re-landed in later batches with a changed payload */
  private def changes(df: DataFrame, key: String, change: Column => DataFrame => DataFrame): DataFrame = {
    val later = spark.range(1, Deltas + 1).select(col("id").cast("int").as("b"))
    change(col("b"))(df.crossJoin(later)
      .filter(col("b") > col("batch") &&
        pmod(xxhash64(col(key), col("b"), lit(env.seed + 1)), lit(50L)) === 0))
      .withColumn("batch", col("b")).drop("b")
  }

  def setup(d: Path): Unit = {
    dir = d
    loaded = 0
    loads.clear()
    rounds.clear()
    val cust = env.table("customer").withColumn("batch", batchOf(col("c_custkey")))
    val ord = env.table("orders").withColumn("batch", batchOf(col("o_orderkey")))
    val li = env.table("lineitem").withColumn("batch", batchOf(col("l_orderkey")))
    land("customer", cust.unionByName(changes(cust, "c_custkey",
      b => _.withColumn("c_acctbal", col("c_acctbal") + b))))
    land("orders", ord.unionByName(changes(ord, "o_orderkey",
      b => _.withColumn("o_totalprice", col("o_totalprice") + b))))
    land("lineitem", li)
    store = new TimedStore(new TxLogTable(spark, d.resolve("vault").toString))
    feed.start(d.resolve("stream"), store.table)
  }

  override def close(): Unit = feed.stop()

  private def land(name: String, df: DataFrame): Unit =
    df.write.partitionBy("batch").parquet(dir.resolve(s"landing/$name").toString)

  private def landed(name: String): DataFrame =
    spark.read.parquet(dir.resolve(s"landing/$name").toString)

  private def stage(name: String, src: String, ldts: String, hashes: HashColumnSpec*) =
    VaultModel(name, deps = Seq(src), materialization = Materialization.View)(ctx =>
      StageLoader.build(ctx.resolve(src),
        StageConfig(ldts, s"!TPCH/$src", hashes, enableGhostRecords = false)))

  private def hub(name: String, hk: String, bk: String, sources: (String, String)*) =
    VaultModel(name, sourceModels = sources.map(_._1))(ctx => Trace.span("loaders.hub") {
      HubLoader.records(ctx.sources.map(s =>
        EntitySource(ctx.resolve(s), Some(hk), Seq(sources.toMap.apply(s)))),
        hk, Seq(bk), ctx.target)
    })

  private def link(name: String, src: String, hk: String, fks: Seq[String]) =
    VaultModel(name, sourceModels = Seq(src))(ctx => Trace.span("loaders.link") {
      LinkLoader.records(Seq(EntitySource(ctx.resolve(src), Some(hk), fks)), hk, fks, ctx.target)
    })

  private def sat(name: String, src: String, hk: String, hd: String, payload: Seq[String]) =
    VaultModel(name, deps = Seq(src))(ctx => Trace.span("loaders.sat") {
      SatV0Loader.records(ctx.resolve(src), Seq(hk), Some(hd), payload, ctx.target)
    })

  private def models(b: Int): Seq[VaultModel] = {
    val ldts = f"!2024-01-${b + 1}%02d 00:00:00"
    val snapshots = ControlSnapV0Loader.build(spark, "2024-01-01", "12:00:00",
      Some(f"2024-01-${b + 1}%02d")).withColumn("is_active", lit(true))
    Seq(
      stage("customer_stg", "customer", ldts,
        HashColumnSpec("hk_customer_h", Seq("c_custkey")),
        HashColumnSpec("hd_customer_s", Seq("c_name", "c_acctbal", "c_mktsegment"), isHashdiff = true)),
      stage("orders_stg", "orders", ldts,
        HashColumnSpec("hk_order_h", Seq("o_orderkey")),
        HashColumnSpec("hk_customer_h", Seq("o_custkey")),
        HashColumnSpec("hk_order_customer_l", Seq("o_orderkey", "o_custkey")),
        HashColumnSpec("hd_order_s", Seq("o_orderstatus", "o_totalprice", "o_orderpriority"),
          isHashdiff = true)),
      stage("lineitem_stg", "lineitem", ldts,
        HashColumnSpec("hk_order_h", Seq("l_orderkey")),
        HashColumnSpec("hk_part_h", Seq("l_partkey")),
        HashColumnSpec("hk_lineitem_l", Seq("l_orderkey", "l_partkey", "l_linenumber")),
        HashColumnSpec("hd_lineitem_s",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag"), isHashdiff = true)),
      hub("customer_h", "hk_customer_h", "custkey",
        "customer_stg" -> "c_custkey", "orders_stg" -> "o_custkey"),
      hub("order_h", "hk_order_h", "orderkey",
        "orders_stg" -> "o_orderkey", "lineitem_stg" -> "l_orderkey"),
      hub("part_h", "hk_part_h", "partkey", "lineitem_stg" -> "l_partkey"),
      link("order_customer_l", "orders_stg", "hk_order_customer_l",
        Seq("hk_order_h", "hk_customer_h")),
      link("lineitem_l", "lineitem_stg", "hk_lineitem_l", Seq("hk_order_h", "hk_part_h")),
      sat("customer_s", "customer_stg", "hk_customer_h", "hd_customer_s",
        Seq("c_name", "c_acctbal", "c_mktsegment")),
      sat("order_s", "orders_stg", "hk_order_h", "hd_order_s",
        Seq("o_orderstatus", "o_totalprice", "o_orderpriority")),
      sat("lineitem_s", "lineitem_stg", "hk_lineitem_l", "hd_lineitem_s",
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag")),
      VaultModel(pit, deps = Seq("customer_h", "customer_s"))(ctx => Trace.span("loaders.pit") {
        PitLoader.records(ctx.resolve("customer_h"), "hk_customer_h",
          Seq(PitSatellite("customer_s", ctx.resolve("customer_s"), hasLedts = false)),
          snapshots, "dk_customer_pit", target = ctx.target, snapshotOptimization = true)
      }))
  }

  private def load(b: Int): Long = {
    val externals: String => DataFrame =
      name => landed(name).filter(col("batch") === b).drop("batch")
    val t0 = System.nanoTime()
    val result = new Runner(spark, store, models(b), externals).run()
    loads += (((System.nanoTime() - t0) / 1e9, result.steps.map(_.seconds).sum))
    loaded = b + 1
    0L
  }

  /** The initial load is round 0: the bulk batch and the first arrival. */
  override def initial(ops: Seq[Op]): Option[Double] = rounds.headOption

  /** A unit of work is a later round: one delta batch and one arrival. */
  def units(ops: Seq[Op]): Seq[Double] = rounds.drop(1).toSeq

  def run(loop: Loop): Unit = {
    var b = 0
    var ok = true
    // a failed batch stops the loop: every later batch builds on it
    while (ok && b <= Deltas && (b <= 1 || loop.timeLeft)) {
      val t0 = System.nanoTime()
      ok = loop.op(if (b == 0) "bulk" else "delta")(load(b)) && loop.op("arrival")(feed.next())
      if (ok) rounds += (System.nanoTime() - t0) / 1e9
      b += 1
    }
  }

  def check(): Seq[String] = {
    if (loaded == 0) return Seq("vault_load: no batch loaded")
    def in(name: String) = landed(name).filter(col("batch") < loaded)
    val cust = in("customer")
    val ord = in("orders")
    val li = in("lineitem")
    /** rows whose payload differs from the key's previous landed row */
    def changeCount(df: DataFrame, key: String, payload: Seq[String]): Long = {
      val h = xxhash64(payload.map(col): _*)
      df.withColumn("h", h)
        .withColumn("prev", lag(col("h"), 1).over(Window.partitionBy(key).orderBy("batch")))
        .filter(col("prev").isNull || col("prev") =!= col("h")).count()
    }
    def custKeys = cust.select(col("c_custkey").as("k"))
      .union(ord.select(col("o_custkey").as("k"))).distinct().count()
    val expected: Map[String, () => Long] = Map(
      "customer_h" -> (() => custKeys),
      "order_h" -> (() => ord.select(col("o_orderkey").as("k"))
        .union(li.select(col("l_orderkey").as("k"))).distinct().count()),
      "part_h" -> (() => li.select("l_partkey").distinct().count()),
      "order_customer_l" -> (() => ord.select("o_orderkey", "o_custkey").distinct().count()),
      "lineitem_l" -> (() => li.select("l_orderkey", "l_partkey", "l_linenumber").distinct().count()),
      "customer_s" -> (() => changeCount(cust, "c_custkey", Seq("c_name", "c_acctbal", "c_mktsegment"))),
      "order_s" -> (() => changeCount(ord, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))),
      "lineitem_s" -> (() => li.count()),
      pit -> (() => custKeys * loaded))
    val keyOf = Map("customer_h" -> Seq("hk_customer_h"), "order_h" -> Seq("hk_order_h"),
      "part_h" -> Seq("hk_part_h"), "order_customer_l" -> Seq("hk_order_customer_l"),
      "lineitem_l" -> Seq("hk_lineitem_l"), "customer_s" -> Seq("hk_customer_h", "ldts"),
      "order_s" -> Seq("hk_order_h", "ldts"), "lineitem_s" -> Seq("hk_lineitem_l", "ldts"),
      pit -> Seq("dk_customer_pit"))
    /** (row count, failed checks) of table `t` */
    def checkTable(t: String): (Long, Seq[String]) = {
      val keys = keyOf(t).map(col)
      val row = store.table.read(t).agg(count(lit(1)), countDistinct(keys.head, keys.tail: _*)).head()
      val (n, distinct, want) = (row.getLong(0), row.getLong(1), expected(t)())
      (n, Seq(
        Option.when(distinct != n)(s"$t: ${keyOf(t).mkString("+")} not unique ($distinct of $n)"),
        Option.when(n != want)(s"$t: $n rows, landed inputs give $want")).flatten)
    }
    // the checks are independent Spark jobs and are not timed: run them
    // side by side, the stream's with them
    implicit val ec: ExecutionContext = ExecutionContext.global
    val stream = Future(feed.check())
    val byTable = Await.result(Future.traverse(tables)(t => Future(t -> checkTable(t))), Duration.Inf)
    counts = byTable.map { case (t, (n, _)) => t -> n }.toMap
    Await.result(stream, Duration.Inf) ++ byTable.flatMap(_._2._2)
  }

  def named(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    val batches = ok.filter(o => o.kind == "bulk" || o.kind == "delta")
    val landedBytes = Seq("customer", "orders", "lineitem").map { t =>
      (0 until loaded).map(b => Dirs.bytes(dir.resolve(s"landing/$t/batch=$b"))).sum
    }.sum + Dirs.bytes(feed.landing)
    batches.find(_.kind == "bulk").map(o => "load_bulk_s" -> o.seconds).toMap ++
      Stats.latency("load_delta_s", batches.filter(_.kind == "delta").map(_.seconds)) ++
      StreamFeed.figures(ops) ++
      Map(
        "load_rows_per_s" -> counts.values.sum / batches.map(_.seconds).sum,
        "stored_bytes_ratio" -> Dirs.bytes(dir.resolve("vault")).toDouble / landedBytes,
        "batches_loaded" -> loaded.toDouble)
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    TimedStore.gauges(store.table, tables ++ feed.tables) ++ Map(
      "runner.step_s" -> loads.map(_._2).sum / n,
      "runner.overhead_s" -> loads.map { case (wall, steps) => wall - steps }.sum / n)
  }
}
