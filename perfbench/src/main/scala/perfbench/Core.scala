package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. `rows` counts the rows
  * the operation committed or returned; a failed operation carries its
  * error and is left out of every latency figure. */
final case class Op(kind: String, seconds: Double, rows: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** A closed loop: the next operation starts when the previous one returns.
  * Workloads start another unit of work while time is left; the first unit
  * always runs, so a run is never empty, and the last may end past the
  * deadline. */
final class Loop(seconds: Double) {
  private val deadline = System.nanoTime() + (seconds * 1e9).toLong
  val ops = ArrayBuffer.empty[Op]

  def timeLeft: Boolean = System.nanoTime() < deadline

  /** Run and time one operation; `body` returns its row count. Returns
    * false when it failed. */
  def op(kind: String)(body: => Long): Boolean = {
    val t0 = System.nanoTime()
    def took = (System.nanoTime() - t0) / 1e9
    try {
      val rows = Trace.span(s"op.$kind")(body)
      ops += Op(kind, took, rows, None)
      true
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, took, 0, Some(Main.describe(e)))
        false
    }
  }
}

/** A benchmark workload. `setup` builds fresh state under `dir` and may be
  * called several times (the last call's state is used); `run` drives the
  * closed loop; `check` verifies the program's outputs and returns one
  * message per failed check. */
trait Workload {
  /** seconds of each completed unit of work, for unit_s_p50 */
  def units(ops: Seq[Op]): Seq[Double]
  /** seconds of the initial load, for initial_s: by default the first
    * operation */
  def initial(ops: Seq[Op]): Option[Double] = ops.headOption.filter(_.ok).map(_.seconds)
  def setup(dir: Path): Unit
  def run(loop: Loop): Unit
  def check(): Seq[String]
  /** the workload's own named figures, from its operations and state */
  def named(ops: Seq[Op]): Map[String, Double]
  /** per-layer figures only this workload can read off its state */
  def layers(ops: Seq[Op]): Map[String, Double] = Map.empty
  /** prefixes of the per-layer figures this workload exercises: a traced
    * run fails its checks when one of them reads 0 */
  def exercised: Seq[String]
  /** stop anything the last set-up started */
  def close(): Unit = ()
  /** extra fields for the artifact, as values Jackson can write */
  def artifact: Map[String, Any] = Map.empty
}

/** What every workload gets: the session, the generated inputs and the
  * seed that sliced them. */
final case class Env(spark: SparkSession, input: String, seed: Long) {
  def table(name: String) = spark.read.parquet(s"$input/$name.parquet")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** `<name>_p50` of `xs`, and `<name>_tail`: the highest whole percentile
    * that leaves at least ten samples beyond it, with that percentile
    * (`_tail_pct`) and the sample count (`_n`). Below 21 samples no such
    * percentile lies above the median, and the tail is left out. */
  def latency(name: String, xs: Seq[Double]): Map[String, Double] =
    if (xs.isEmpty) Map.empty
    else {
      val n = xs.size
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Map(s"${name}_p50" -> median(xs), s"${name}_n" -> n.toDouble) ++
        (if (p <= 50) Map.empty
         else Map(s"${name}_tail" -> percentile(xs, p), s"${name}_tail_pct" -> p.toDouble))
    }
}

object Dirs {
  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val c = Files.list(p)
      try c.iterator().forEachRemaining(rmTree(_)) finally c.close()
    }
    Files.delete(p)
  }

  /** Total bytes of regular files under `p`. */
  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try {
      var n = 0L
      w.iterator().forEachRemaining(f => if (Files.isRegularFile(f)) n += Files.size(f))
      n
    } finally w.close()
  }
}

