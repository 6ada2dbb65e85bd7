package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: spans around the benchmark's calls into each
  * layer, plus one SparkListener, one QueryExecutionListener and one
  * StreamingQueryListener registered from outside the program.
  *
  * Spans and counters are kept in memory and read when the loop ends. With
  * tracing off, `span` is a plain call and the listeners drop every event.
  * The recorder times its own work (span bookkeeping on the calling thread,
  * event handling on the listener thread): that is the tracing overhead.
  */
object Trace {
  /** Local property naming the innermost open span; Spark copies it into
    * each job's properties, which attributes jobs to spans. */
  val SpanProperty = "perfbench.span"

  @volatile var enabled = false

  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong()
  private val open = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private var session: SparkSession = _
  /** nanoseconds spent in the recorder's own code while enabled */
  private val selfNs = new AtomicLong()

  def overheadSeconds: Double = selfNs.get / 1e9

  private def timed(body: => Unit): Unit = if (enabled) {
    val t0 = System.nanoTime()
    body
    selfNs.addAndGet(System.nanoTime() - t0): Unit
  }

  /** Time `body` as span `name`, a child of the caller's open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val enter = System.nanoTime()
      val id = nextId.incrementAndGet()
      val stack = open.get
      val sc = session.sparkContext
      open.set((id, name) :: stack)
      sc.setLocalProperty(SpanProperty, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, stack.headOption.fold(0L)(_._1), name, t0, t1))
        open.set(stack)
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_._2).orNull)
        selfNs.addAndGet(t0 - enter + System.nanoTime() - t1)
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: (count, total seconds, self seconds). Self time is a
    * span's duration minus the part its child spans cover; children of one
    * span run on the caller's thread, one after another, so they never
    * overlap and their durations add up. */
  def totals: Map[String, (Int, Double, Double)] = {
    val all = allSpans
    val childTime = all.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    all.groupBy(_.name).view.mapValues { ss =>
      (ss.size, ss.map(_.seconds).sum,
        ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum)
    }.toMap
  }

  /** Counters fed by the three listeners. */
  object counters {
    val jobs, tasks, execRunMs, gcMs, shuffleBytes, spillBytes, inputBytes = new AtomicLong()
    val actions, planMs = new AtomicLong()
    val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    /** per table root (format directory): (scans, files read) */
    val scanFiles = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val scans = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val streamAddBatch, streamPlan, streamWal = new DoubleAdder()
    val stateRows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

    def reset(): Unit = {
      Seq(jobs, tasks, execRunMs, gcMs, shuffleBytes, spillBytes, inputBytes,
        actions, planMs).foreach(_.set(0))
      Seq(streamAddBatch, streamPlan, streamWal).foreach(_.reset())
      jobsBySpan.clear(); scanFiles.clear(); scans.clear(); stateRows.clear()
    }

    def jobsIn(spanPrefix: String): Long =
      jobsBySpan.asScala.collect { case (k, v) if k.startsWith(spanPrefix) => v.get }.sum
  }

  private def bump(m: java.util.concurrent.ConcurrentHashMap[String, AtomicLong],
                   key: String, by: Long): Unit =
    m.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(by): Unit

  private object SparkCounters extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      counters.jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .foreach(bump(counters.jobsBySpan, _, 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      counters.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        counters.execRunMs.addAndGet(m.executorRunTime)
        counters.gcMs.addAndGet(m.jvmGCTime)
        counters.shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        counters.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        counters.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private object QueryCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = timed {
      counters.actions.incrementAndGet()
      val phases = qe.tracker.phases
      counters.planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum)
      collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        val files = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        s.relation.location.rootPaths.headOption.foreach { root =>
          val key = root.toUri.getPath
          bump(counters.scans, key, 1)
          bump(counters.scanFiles, key, files)
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private object StreamCounters extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      val p = e.progress
      def ms(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue / 1e3)
      counters.streamAddBatch.add(ms("addBatch"))
      counters.streamPlan.add(ms("queryPlanning"))
      counters.streamWal.add(ms("walCommit"))
      counters.stateRows.put(p.id.toString,
        java.lang.Long.valueOf(p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Register the listeners once per session; they stay inert until
    * [[begin]] turns tracing on. */
  def install(spark: SparkSession): Unit = {
    session = spark
    spark.sparkContext.addSparkListener(SparkCounters)
    spark.listenerManager.register(QueryCounters)
    spark.streams.addListener(StreamCounters)
  }

  /** Start recording: wait for stale events to drain, clear everything. */
  def begin(): Unit = {
    PerfbenchBus.drain(session.sparkContext)
    spans.clear()
    counters.reset()
    selfNs.set(0)
    enabled = true
  }

  /** Stop recording once every event posted so far has been delivered. */
  def end(): Unit = {
    PerfbenchBus.drain(session.sparkContext)
    enabled = false
  }

  def stateRowsTotal: Long = counters.stateRows.values.asScala.map(_.longValue).sum

  /** Files read per scan, and scans, for tables under `rootPrefix`. */
  def scansUnder(rootPrefix: String): (Long, Long) = {
    def sum(m: java.util.concurrent.ConcurrentHashMap[String, AtomicLong]) =
      m.asScala.collect { case (k, v) if k.startsWith(rootPrefix) => v.get }.sum
    (sum(counters.scans), sum(counters.scanFiles))
  }

  /** Total seconds of spans named `prefix` or `prefix.*`. */
  def seconds(prefix: String): Double =
    totals.collect { case (n, (_, total, _)) if n == prefix || n.startsWith(prefix + ".") => total }.sum

}
