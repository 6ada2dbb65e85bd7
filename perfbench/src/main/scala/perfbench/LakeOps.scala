package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.runtime.TxLogTable
import graft.sources.{DeltaRead, DeltaWrite, IcebergRead, IcebergWrite}

/** `lake_ops`: one seeded operation sequence applied to an orders-derived
  * table in each of TxLogTable, Delta and Iceberg. The loop first seeds
  * every table with 8 key-range commits (the MergeScaleSmoke shape); each
  * round then runs, per format, a small append, a key-bounded MERGE, a
  * point lookup, a small key-range delete and a grouped aggregate scan.
  * Reads follow writes, so the read cost of a growing snapshot shows.
  * Round 0 always runs; later rounds run while time is left.
  *
  * An in-memory model replays the same sequence; lookups and scans are
  * compared to it as they run, and the three tables must end equal to it.
  */
final class LakeOps(env: Env) extends Workload {
  import env.spark
  import spark.implicits._

  val exercised = Seq("txlog.", "sources.", "scan.")
  private val writes = Set("append", "merge", "delete")
  private val formats = Seq("txlog", "delta", "iceberg")
  private val Table = "orders"
  private val SeedCommits = 8

  private var dir: Path = _
  private var tx: TxLogTable = _
  private val rng = new scala.util.Random(env.seed)
  /** key → (custkey, totalprice, priority): the model of the table */
  private val model = mutable.TreeMap.empty[Long, (Long, Double, String)]
  private var nextKey = 0L
  private var rawBytes = 0L
  private val mismatches = ArrayBuffer.empty[String]
  /** seconds of each round whose 15 operations all succeeded */
  private val rounds = ArrayBuffer.empty[Double]

  private def fmtDir(f: String) = dir.resolve(s"lake/$f").toString

  private def rowsDf(rows: Seq[(Long, (Long, Double, String))]): DataFrame =
    rows.map { case (k, (c, p, g)) => (k, c, p, g) }
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .coalesce(1)

  private def read(f: String): DataFrame = f match {
    case "txlog" => Trace.span("txlog.open")(tx.read(Table))
    case "delta" => Trace.span("sources.delta.snapshot")(DeltaRead.read(spark, s"${fmtDir(f)}/$Table"))
    case _ => Trace.span("sources.iceberg.snapshot")(IcebergRead.read(spark, s"${fmtDir(f)}/$Table"))
  }

  private def append(f: String, df: DataFrame): Unit = f match {
    case "txlog" => Trace.span("txlog.commit")(tx.append(Table, df))
    case "delta" => Trace.span("sources.delta.commit")(DeltaWrite.write(df, s"${fmtDir(f)}/$Table"))
    case _ => Trace.span("sources.iceberg.commit")(IcebergWrite.write(df, s"${fmtDir(f)}/$Table"))
  }

  private def merge(f: String, df: DataFrame): Unit = f match {
    case "txlog" => Trace.span("txlog.commit")(tx.merge(Table, df, Seq("o_orderkey")))
    case "delta" => Trace.span("sources.delta.commit")(
      DeltaWrite.merge(spark, s"${fmtDir(f)}/$Table", df, Seq("o_orderkey")))
    case _ => Trace.span("sources.iceberg.commit")(
      IcebergWrite.merge(spark, s"${fmtDir(f)}/$Table", df, Seq("o_orderkey")))
  }

  private def delete(f: String, cond: Column): Unit = f match {
    case "txlog" => Trace.span("txlog.commit")(tx.deleteWhere(Table, cond, Seq("o_orderkey")))
    case "delta" => Trace.span("sources.delta.commit")(
      DeltaWrite.deleteWhere(spark, s"${fmtDir(f)}/$Table", cond))
    case _ => Trace.span("sources.iceberg.commit")(
      IcebergWrite.deleteWhere(spark, s"${fmtDir(f)}/$Table", cond))
  }

  private def rowBytes(n: Int): Long = n * 32L

  /** Set-up lands the orders-derived rows as 8 key-range slices (the seed
    * commits' inputs) and loads the same rows into the model. */
  def setup(d: Path): Unit = {
    dir = d
    tx = new TxLogTable(spark, fmtDir("txlog"))
    model.clear()
    mismatches.clear()
    rounds.clear()
    val base = env.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val maxKey = base.agg(max("o_orderkey")).head().getLong(0)
    base.withColumn("slice", floor(col("o_orderkey") * SeedCommits / (maxKey + 1)))
      .write.partitionBy("slice").parquet(d.resolve("landing").toString)
    spark.read.parquet(d.resolve("landing").toString).drop("slice")
      .as[(Long, Long, Double, String)].collect()
      .foreach { case (k, c, p, g) => model(k) = (c, p, g) }
    nextKey = model.lastKey + 1
    rawBytes = rowBytes(model.size) * formats.size
  }

  /** the model's per-priority (count, Σ price in cents) */
  private def modelGroups: Map[String, (Long, Long)] =
    model.values.groupBy(_._3).view.mapValues(vs =>
      (vs.size.toLong, vs.map(v => math.round(v._2 * 100)).sum)).toMap

  private def groupsOf(df: DataFrame): Map[String, (Long, Long)] =
    df.groupBy("o_orderpriority")
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("long")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  private def existingKey(): Long = {
    val lo = model.firstKey + (rng.nextDouble() * (model.lastKey - model.firstKey)).toLong
    model.rangeFrom(lo).headOption.orElse(model.headOption).get._1
  }

  private def newRows(n: Int): Seq[(Long, (Long, Double, String))] =
    (0 until n).map { i =>
      (nextKey + i, (rng.nextInt(1000).toLong, math.round(rng.nextDouble() * 1e7) / 100.0,
        s"${1 + rng.nextInt(5)}-NEW"))
    }

  def run(loop: Loop): Unit = {
    val landed = spark.read.parquet(dir.resolve("landing").toString)
    for (i <- 0 until SeedCommits; f <- formats) loop.op("seed") {
      append(f, landed.filter(col("slice") === i).drop("slice"))
      0L
    }
    var round = 0
    while (round == 0 || loop.timeLeft) {
      val t0 = System.nanoTime()
      // one round: the same five operations, in the same order, per format;
      // the model takes each write before the reads that must see it
      val added = newRows(20)
      nextKey += added.size
      val lo = existingKey()
      val updated = model.range(lo, lo + 400).toSeq.zipWithIndex
        .collect { case ((k, (c, p, g)), i) if i % 10 == 0 => (k, (c, p + 1.0, g)) }
      val mergeSrc = updated ++ newRows(5)
      nextKey += 5
      (added ++ mergeSrc).foreach { case (k, v) => model(k) = v }
      rawBytes += rowBytes(added.size + mergeSrc.size) * formats.size
      val probe = existingKey()
      val want = model.get(probe).map { case (c, p, g) => (probe, c, p, g) }.toSeq
      val appendDf = rowsDf(added)
      val mergeDf = rowsDf(mergeSrc)
      formats.foreach { f =>
        loop.op("append") { append(f, appendDf); added.size.toLong }
        loop.op("merge") { merge(f, mergeDf); mergeSrc.size.toLong }
        loop.op("lookup") {
          val got = read(f).filter(col("o_orderkey") === probe)
            .as[(Long, Long, Double, String)].collect().toSeq
          if (got != want) mismatches += s"$f lookup $probe: $got, model $want"
          got.size.toLong
        }
      }
      val delLo = existingKey()
      model.range(delLo, delLo + 40).keys.toSeq.foreach(model.remove)
      val groups = modelGroups
      formats.foreach { f =>
        loop.op("delete") {
          delete(f, col("o_orderkey") >= delLo && col("o_orderkey") < delLo + 40); 40L
        }
        loop.op("scan") {
          val got = groupsOf(read(f))
          if (got != groups) mismatches += s"$f scan in round $round differs from the model"
          got.size.toLong
        }
      }
      if (loop.ops.takeRight(5 * formats.size).forall(_.ok)) rounds += (System.nanoTime() - t0) / 1e9
      round += 1
    }
  }

  /** A unit of work is one round: five operations on each format. */
  def units(ops: Seq[Op]): Seq[Double] = rounds.toSeq

  /** The initial load is the seed phase: 8 commits on each format. */
  override def initial(ops: Seq[Op]): Option[Double] = {
    val seeds = ops.filter(_.kind == "seed")
    if (seeds.isEmpty || !seeds.forall(_.ok)) None else Some(seeds.map(_.seconds).sum)
  }

  def check(): Seq[String] = {
    val want = modelGroups
    mismatches.toSeq ++ formats.flatMap { f =>
      val got = groupsOf(read(f))
      if (got == want) None
      else Some(s"$f ends with ${got.values.map(_._1).sum} rows, model ${model.size}; groups differ")
    }
  }

  def named(ops: Seq[Op]): Map[String, Double] = {
    val ok = ops.filter(o => o.ok && o.kind != "seed")
    val stored = formats.map(f => Dirs.bytes(dir.resolve(s"lake/$f"))).sum
    Stats.latency("lake_write_s", ok.filter(o => writes(o.kind)).map(_.seconds)) ++
      Stats.latency("lake_read_s", ok.filterNot(o => writes(o.kind)).map(_.seconds)) ++
      Map("stored_bytes_ratio" -> stored.toDouble / rawBytes)
  }

  override def layers(ops: Seq[Op]): Map[String, Double] = {
    val txlog = TimedStore.gauges(tx, Seq(Table))
    val live = Map(
      "txlog" -> txlog("txlog.live_files").toInt,
      "delta" -> DeltaRead.snapshot(s"${fmtDir("delta")}/$Table").files.size,
      "iceberg" -> IcebergRead.snapshot(s"${fmtDir("iceberg")}/$Table").files.size)
    formats.flatMap { f =>
      val (scans, files) = Trace.scansUnder(fmtDir(f))
      Seq(s"scan.files_read.$f" -> (if (scans == 0) 0.0 else files.toDouble / scans),
        s"scan.files_live.$f" -> live(f).toDouble)
    }.toMap ++ txlog ++ Map(
      "sources.delta.live_files" -> live("delta").toDouble,
      "sources.iceberg.live_files" -> live("iceberg").toDouble)
  }
}
