package perfbench

import java.nio.file.Paths

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed number of seconds and writes its result
  * as JSON. Launched by `perfbench/run.py`, which builds the classpath,
  * generates the inputs and prints the summary line.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --input <dir> --work <dir> --out <file> [--cores <n>]
  * }}}
  *
  * An untraced run measures the end-to-end figures. A traced run turns the
  * spans and listeners on for the loop and reports per-layer figures, with
  * the time the recorder itself took as the tracing overhead.
  */
object Main {
  /** set-ups per run; setup_s is their median */
  val SetupRuns = 3

  val workloads: Map[String, Env => Workload] = Map(
    "vault_load" -> (new VaultLoad(_)),
    "lake_ops" -> (new LakeOps(_)),
    "query_mix" -> (new QueryMix(_)),
    "stream_ingest" -> (new StreamIngest(_)))

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    s"${e.getClass.getSimpleName}: $msg"
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Host-speed probe: a fixed CPU-bound loop on one thread, in seconds.
    * Reported beside the metrics so noisy-neighbour bursts show; it never
    * rescales or drops a run. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // keeps the loop observable
    (System.nanoTime() - t0) / 1e9
  }

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        input: String, work: String, out: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("input"), need("work"), need("out"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  /** A run: set up SetupRuns times, run the closed loop, check outputs. */
  final case class Run(setupS: Seq[Double], ops: Seq[Op],
                       checks: Seq[String], named: Map[String, Double],
                       layers: Map[String, Double], workload: Workload,
                       spans: Seq[Trace.Span], phases: Map[String, Double]) {
    def units: Seq[Double] = workload.units(ops)
  }

  private def runWorkload(o: Opts, env: Env, traced: Boolean): Run = {
    val wl = workloads(o.workload)(env)
    val base = Paths.get(o.work)
    val setupS = (1 to SetupRuns).map { i =>
      if (i > 1) {
        wl.close()
        Dirs.rmTree(base.resolve(s"setup${i - 1}"))
      }
      val t0 = System.nanoTime()
      wl.setup(base.resolve(s"setup$i"))
      (System.nanoTime() - t0) / 1e9
    }
    if (traced) Trace.begin()
    val loop = new Loop(o.seconds)
    val tl = System.nanoTime()
    wl.run(loop)
    val loopS = (System.nanoTime() - tl) / 1e9
    val tc = System.nanoTime()
    val ops = loop.ops.toSeq
    val layers = if (traced) {
      Trace.end()
      layerFigures(wl, ops, o.cores)
    } else Map.empty[String, Double]
    val spans = if (traced) Trace.allSpans else Nil
    val checks =
      try wl.check()
      catch { case NonFatal(e) => Seq(s"check crashed: ${describe(e)}") }
      finally wl.close()
    val named = try wl.named(ops) catch { case NonFatal(_) => Map.empty[String, Double] }
    Run(setupS, ops, checks, named, layers, wl, spans,
      Map("setup" -> setupS.sum, "loop" -> loopS, "check" -> (System.nanoTime() - tc) / 1e9))
  }

  /** prefixes of the per-layer figures every workload drives above 0 */
  val Exercised = Seq("spark.plan_s", "spark.actions", "spark.jobs", "spark.tasks",
    "spark.exec_s", "spark.core_util", "trace.")

  /** Per-layer figures of a traced run. Times and counts are per
    * operation of the loop; gauges are the state at the end. */
  private def layerFigures(wl: Workload, ops: Seq[Op], cores: Int): Map[String, Double] = {
    import Trace.counters._
    val n = math.max(ops.size, 1).toDouble
    val wall = ops.map(_.seconds).sum
    def per(x: Double) = x / n
    val spark = Map(
      "spark.plan_s" -> per(planMs.get / 1e3),
      "spark.actions" -> per(actions.get.toDouble),
      "spark.jobs" -> per(jobs.get.toDouble),
      "spark.tasks" -> per(tasks.get.toDouble),
      "spark.exec_s" -> per(execRunMs.get / 1e3),
      "spark.core_util" -> (if (wall > 0) execRunMs.get / 1e3 / (wall * cores) else 0.0),
      "spark.shuffle_bytes" -> per(shuffleBytes.get.toDouble),
      "spark.spill_bytes" -> per(spillBytes.get.toDouble),
      "spark.input_bytes" -> per(inputBytes.get.toDouble),
      "spark.gc_s" -> per(gcMs.get / 1e3))
    val spans = Seq("hub", "link", "sat", "pit").map(k =>
      s"loaders.build_s.$k" -> per(Trace.seconds(s"loaders.$k"))) ++ Seq(
      "loaders.eager_jobs" -> per(jobsIn("loaders.").toDouble),
      "txlog.commit_s" -> per(Trace.seconds("txlog.commit")),
      "txlog.open_s" -> per(Trace.seconds("txlog.open"))) ++
      Seq("delta", "iceberg").flatMap(f => Seq(
        s"sources.$f.commit_s" -> per(Trace.seconds(s"sources.$f.commit")),
        s"sources.$f.snapshot_s" -> per(Trace.seconds(s"sources.$f.snapshot"))))
    val streaming = Map(
      "streaming.add_batch_s" -> per(streamAddBatch.sum),
      "streaming.plan_s" -> per(streamPlan.sum),
      "streaming.wal_commit_s" -> per(streamWal.sum),
      "streaming.state_rows" -> Trace.stateRowsTotal.toDouble)
    spark ++ spans ++ streaming ++ wl.layers(ops) ++ Map(
      "trace.unit_s_p50" -> Some(wl.units(ops)).filter(_.nonEmpty).fold(0.0)(Stats.median),
      "trace.overhead_s" -> per(Trace.overheadSeconds))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(workloads.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
    val t0 = System.nanoTime()
    val spark = session(o.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      Trace.install(spark)
      val calibStart = calibrate()
      val env = Env(spark, o.input, o.seed)
      val run = runWorkload(o, env, o.trace)
      val calibEnd = calibrate()
      new ObjectMapper().registerModule(DefaultScalaModule).writerWithDefaultPrettyPrinter()
        .writeValue(Paths.get(o.out).toFile, artifact(o, run, calibStart, calibEnd, sessionS))
    } finally spark.stop()
  }

  private def artifact(o: Opts, run: Run, calibStart: Double, calibEnd: Double,
                       sessionS: Double): Map[String, Any] = {
    val metrics: Map[String, Double] = Map("setup_s" -> Stats.median(run.setupS)) ++
      run.workload.initial(run.ops).map("initial_s" -> _) ++
      Some(run.units).filter(_.nonEmpty).map("unit_s_p50" -> Stats.median(_))
    Map(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "cores" -> o.cores,
      "calibration_s" -> Map("start" -> calibStart, "end" -> calibEnd),
      "phases_s" -> (run.phases + ("session" -> sessionS)),
      "setup_s_runs" -> run.setupS,
      "attempted" -> run.ops.size,
      "failed" -> run.ops.count(!_.ok),
      "failures" -> run.ops.filterNot(_.ok).map(op => Map("kind" -> op.kind, "error" -> op.error.get)),
      "checks_failed" -> run.checks,
      "metrics" -> metrics,
      "named" -> run.named,
      "layers" -> run.layers,
      "exercised" -> (Exercised ++ run.workload.exercised),
      "ops" -> run.ops.map(op => Map("kind" -> op.kind, "s" -> op.seconds, "rows" -> op.rows) ++
        op.error.map("error" -> _)),
      "span_totals" -> Trace.totals.map { case (k, (c, total, self)) =>
        k -> Map("count" -> c, "total_s" -> total, "self_s" -> self)
      },
      "spans" -> run.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))) ++ run.workload.artifact
  }
}
