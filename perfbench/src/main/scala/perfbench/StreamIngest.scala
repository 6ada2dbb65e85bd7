package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.expr.{HashConfig, Hashing}
import graft.loaders.{EntitySource, HubLoader, SatV0Loader}
import graft.runtime.TxLogTable
import graft.streaming.StreamingLoaders

/** A streaming feed of customer arrivals into a TxLogTable. `start` stages
  * `count` arrival files and starts two streaming queries on one landing
  * directory: `StreamingLoaders.vaultSink` loads a hub and a v0 satellite
  * through the batch loaders, `satV0StatefulTxSink` loads a second
  * satellite from state-store change detection; both commit through
  * `TxLogTable.appendOnce`. Each `next()` lands one file and waits until
  * both queries have processed it (one file per micro-batch). At the end
  * the hub and both satellites must equal the batch loaders applied once
  * to every arrival processed.
  */
final class StreamFeed(env: Env, count: Int, hubName: String, satName: String,
                       statefulSatName: String) {
  import env.spark

  private implicit val hc: HashConfig = HashConfig()

  private val payload = Seq("c_name", "c_acctbal_v", "c_mktsegment")
  val tables: Seq[String] = Seq(hubName, satName, statefulSatName)

  private var dir: Path = _
  private var tx: TxLogTable = _
  private var queries = Seq.empty[StreamingQuery]
  private var pending = Seq.empty[(Path, Long)]
  /** arrivals processed so far */
  var landed = 0

  /** Arrival `b` carries about a quarter of the customers; a customer's
    * balance steps up every fifth arrival (phase set by its key), so some
    * rows repeat the customer's last payload and some change it. */
  private def arrivals: DataFrame =
    env.table("customer")
      .crossJoin(spark.range(count).select(col("id").cast("int").as("b")))
      .filter(pmod(xxhash64(col("c_custkey"), col("b"), lit(env.seed)), lit(4L)) === 0)
      .withColumn("c_acctbal_v", col("c_acctbal") +
        floor((col("b") + pmod(xxhash64(col("c_custkey"), lit(env.seed + 1)), lit(5L))) / 5))
      .withColumn("ldts", expr("timestampadd(MINUTE, b, timestamp'2024-01-01 00:00:00')"))
      .withColumn("rsrc", lit("TPCH/customer"))
      .withColumn("hk_customer_h", Hashing.hashkey(Seq(col("c_custkey"))))
      .withColumn("hd_customer_s", Hashing.hashdiff(payload.map(col)))
      .select("b", "c_custkey", "c_name", "c_acctbal_v", "c_mktsegment", "ldts", "rsrc",
        "hk_customer_h", "hd_customer_s")

  def landing: Path = dir.resolve("landing")

  def hasNext: Boolean = landed < pending.size

  /** Stage the arrivals under `d` and start both queries writing to `table`. */
  def start(d: Path, table: TxLogTable): Unit = {
    stop()
    dir = d
    tx = table
    landed = 0
    // one file per arrival: all rows of an arrival go to one task
    arrivals.repartition(col("b")).write.partitionBy("b")
      .parquet(d.resolve("staged").toString)
    Files.createDirectories(landing)
    val rows = spark.read.parquet(d.resolve("staged").toString).groupBy("b").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    pending = rows.keys.toSeq.sorted.map { b =>
      val part = d.resolve(s"staged/b=$b")
      val f = Files.list(part).iterator().asScala.find(_.toString.endsWith(".parquet")).get
      val dst = d.resolve(f"staged/arrival$b%03d.parquet")
      Files.move(f, dst)
      (dst, rows(b))
    }
    val schema = spark.read.parquet(d.resolve("staged").toString).drop("b").schema
    def stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
    // an idle query lists the landing directory once per trigger; a zero
    // interval would poll it every few milliseconds, beside the batch loads
    val trigger = Trigger.ProcessingTime(100L)
    queries = StreamingLoaders.withStateShards(spark, StreamingLoaders.MinStateShards) {
      Seq(
        StreamingLoaders.vaultSink(stream, tx, hubName, satName,
          "hk_customer_h", Seq("custkey"), Seq("c_custkey"), "hd_customer_s", payload,
          d.resolve("_cp_vault").toString, trigger = trigger).start(),
        StreamingLoaders.satV0StatefulTxSink(stream, tx, statefulSatName,
          "hk_customer_h", "hd_customer_s", d.resolve("_cp_state").toString,
          trigger = trigger).start())
    }
  }

  def stop(): Unit = {
    queries.foreach(_.stop())
    queries = Nil
  }

  /** Land the next arrival and wait until both queries have committed it;
    * returns its row count. */
  def next(): Long = {
    val (file, rows) = pending(landed)
    val dst = landing.resolve(file.getFileName)
    Files.move(file, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1700000000000L + landed * 1000L))
    queries.foreach(awaitFile(_, landed))
    landed += 1
    rows
  }

  private val LogOffset = raw""""logOffset"\s*:\s*(\d+)""".r.unanchored

  /** Wait until `q` has committed the micro-batch of arrival `n` (0-based):
    * a trigger already running when the file landed may report "no new
    * data", so one processAllAvailable is not proof. */
  private def awaitFile(q: StreamingQuery, n: Int): Unit = {
    def committed: Long = Option(q.lastProgress).flatMap(_.sources.headOption)
      .map(_.endOffset).collect { case LogOffset(v) => v.toLong }.getOrElse(-1L)
    q.processAllAvailable()
    while (committed < n) {
      q.exception.foreach(e => throw e)
      Thread.sleep(5)
      q.processAllAvailable()
    }
  }

  /** Stops the queries, then compares their tables with the batch loaders. */
  def check(): Seq[String] = {
    stop()
    if (landed == 0) return Seq("stream: no arrival processed")
    val all = spark.read.parquet(landing.toString)
    val hub = HubLoader.records(Seq(EntitySource(all, Some("hk_customer_h"), Seq("c_custkey"))),
      "hk_customer_h", Seq("custkey"), None, disableHwm = true)
    val sat = SatV0Loader.records(all, Seq("hk_customer_h"), Some("hd_customer_s"), payload,
      None, disableHwm = true)
    def differs(name: String, want: DataFrame): Option[String] = {
      val got = tx.read(name).select(want.columns.map(col).toSeq: _*)
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      if (extra + missing == 0) None
      else Some(s"$name: $extra rows beyond the batch load, $missing rows missing")
    }
    Seq(differs(hubName, hub), differs(satName, sat), differs(statefulSatName, sat)).flatten
  }
}

object StreamFeed {
  /** stream_batch_s figures and stream_rows_per_s over the arrival ops */
  def figures(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(o => o.ok && o.kind == "arrival")
    if (ok.isEmpty) Map.empty
    else Stats.latency("stream_batch_s", ok.map(_.seconds)) +
      ("stream_rows_per_s" -> ok.map(_.rows).sum / ok.map(_.seconds).sum)
  }
}

/** `stream_ingest`: a [[StreamFeed]] on its own, one arrival per operation
  * while time is left. */
final class StreamIngest(env: Env) extends Workload {
  val exercised = Seq("streaming.", "txlog.")
  private val feed = new StreamFeed(env, 60, "hub_customer", "sat_customer",
    "sat_customer_stateful")
  private var tx: TxLogTable = _

  def setup(d: Path): Unit = {
    tx = new TxLogTable(env.spark, d.resolve("vault").toString)
    feed.start(d, tx)
  }

  override def close(): Unit = feed.stop()

  def run(loop: Loop): Unit = {
    var ok = true
    while (ok && feed.hasNext && (feed.landed == 0 || loop.timeLeft))
      ok = loop.op("arrival")(feed.next())
  }

  /** a unit of work is one arrival */
  def units(ops: Seq[Op]): Seq[Double] = ops.filter(_.ok).map(_.seconds)

  def check(): Seq[String] = feed.check()

  def named(ops: Seq[Op]): Map[String, Double] = StreamFeed.figures(ops)

  override def layers(ops: Seq[Op]): Map[String, Double] = TimedStore.gauges(tx, feed.tables)
}
