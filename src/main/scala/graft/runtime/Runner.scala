package graft.runtime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a [[VaultModel]] lands in the [[VaultStore]].
  *
  *  - [[Materialization.View]] — ephemeral: never written; rebuilt on demand
  *    when a downstream model resolves it (dbt's ephemeral/view staging
  *    models — the reference stages are views by default,
  *    `macros/staging/stage.sql` docs).
  *  - [[Materialization.Table]] — full rebuild: overwrite on every run.
  *  - [[Materialization.Incremental]] — the Data Vault default: the build
  *    receives the existing target (for HWM + anti-join delta derivation)
  *    and its result is APPENDED; first run creates the table.
  */
sealed trait Materialization
object Materialization {
  case object View extends Materialization
  case object Table extends Materialization
  case object Incremental extends Materialization
}

/** One node of the vault DAG: a named model plus everything the scheduler
  * needs — upstream edges, the prunable source-model subset, and the build
  * function itself.
  *
  * @param deps          upstream model/source names that are NOT prunable
  *                      (a satellite's one staging view, a PIT's snapshot
  *                      relation, a v1's v0, …)
  * @param sourceModels  the reference's `source_models` list — a
  *                      multi-source entity's inputs, prunable per run by
  *                      the selection (execution-aware loading,
  *                      `macros/supporting/source_models.sql:40-62`). Also
  *                      DAG edges.
  * @param build         given a [[Runner.Ctx]], produce the records to
  *                      materialize (the DataFrame is declarative — the
  *                      runner decides append vs overwrite)
  */
final case class VaultModel(
    name: String,
    deps: Seq[String] = Nil,
    sourceModels: Seq[String] = Nil,
    materialization: Materialization = Materialization.Incremental,
    tags: Set[String] = Set.empty)(
    val build: Runner.Ctx => DataFrame) {
  def upstream: Seq[String] = (deps ++ sourceModels).distinct
}

object Runner {

  /** What a model's build sees.
    * @param sources  the EFFECTIVE source-model list for this run — already
    *                 pruned by the selection (`source_models.sql:40-62`);
    *                 equal to the declared list when nothing was pruned
    * @param target   the existing materialized state (None on first run or
    *                 full refresh) — drives HWM/anti-join incremental logic
    */
  final case class Ctx(spark: SparkSession, resolve: String => DataFrame,
                       sources: Seq[String], target: Option[DataFrame]) {
    def isIncremental: Boolean = target.nonEmpty
  }

  /** One executed step: the store action taken (`create` / `append` /
    * `table` / `ephemeral`, or `error` / `skipped` under
    * `continueOnError`), which declared sources were skipped, the
    * wall-clock the step took (dbt's per-model timing), and the failure
    * message for an `error` step. */
  final case class Step(model: String, action: String, skippedSources: Seq[String],
                        seconds: Double = 0.0, error: Option[String] = None)

  final case class Result(steps: Seq[Step]) {
    def actions: Map[String, String] = steps.map(s => s.model -> s.action).toMap
    /** models that failed (only possible under `continueOnError`) */
    def errors: Seq[Step] = steps.filter(_.action == "error")
    /** models never attempted because a selected ancestor failed */
    def skipped: Seq[String] = steps.filter(_.action == "skipped").map(_.model)
  }

  private[runtime] val noExternals: String => DataFrame = name =>
    throw new IllegalArgumentException(
      s"Runner: '$name' is neither a model nor a known external source")
}

/** The vault DAG runner — dependency-ordered loading with dbt-style subset
  * selection and execution-aware source pruning (SURVEY §7.1
  * `runtime/Runner`; reference `macros/supporting/source_models.sql:40-62`,
  * `source_model_should_be_selected.sql:1-15`).
  *
  * Scheduling is DRIVER-SIDE METADATA ONLY — topological ordering over a
  * few hundred model names costs nothing; all data movement stays in the
  * declarative per-model plans, so each step is exactly as distributed as
  * the loader it wraps.
  *
  * Selection grammar (dbt node selection):
  *  - whitespace-separated terms are UNIONED; atoms joined by `,` inside a
  *    term are INTERSECTED
  *  - an atom is `[N+]name[+N]` — leading `+` includes ancestors, trailing
  *    `+` descendants, optional depth N bounds the walk — or `tag:x`;
  *    names take fnmatch-style `*`/`?` wildcards
  *  - empty selector = all models; `exclude` takes the same grammar
  *
  * Execution-aware source pruning (`source_models.sql:40-62`): a
  * multi-source model loads only its sources present in the selection —
  * unless none are selected, the target does not exist yet, or the run is a
  * full refresh, in which case ALL declared sources load (the reference's
  * three fallbacks, verbatim).
  *
  * @param externals resolver for names that are NOT models — raw source
  *                  relations (dbt's `source()`); loud by default
  */
final class Runner(spark: SparkSession, store: VaultStore, models: Seq[VaultModel],
                   externals: String => DataFrame = Runner.noExternals) {

  private val byName: Map[String, VaultModel] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, {
    val dups = models.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    s"Runner: duplicate model names ${dups.mkString(", ")}"
  })

  private val parentsOf: Map[String, Seq[String]] =
    models.map(m => m.name -> m.upstream.filter(byName.contains)).toMap
  private val childrenOf: Map[String, Seq[String]] =
    parentsOf.toSeq.flatMap { case (c, ps) => ps.map(_ -> c) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap.withDefaultValue(Nil)

  /** Deterministic topological order (Kahn, name-sorted tie-break); a cycle
    * fails loudly naming its members. */
  val topoOrder: Seq[String] = {
    val remaining = mutable.Map.from(parentsOf.view.mapValues(_.size))
    val ready = mutable.TreeSet.from(remaining.collect { case (n, 0) => n })
    val out = Vector.newBuilder[String]
    var emitted = 0
    while (ready.nonEmpty) {
      val n = ready.head; ready.remove(n); emitted += 1
      out += n
      childrenOf(n).foreach { c =>
        remaining(c) -= 1
        if (remaining(c) == 0) ready.add(c)
      }
    }
    if (emitted < models.size)
      throw new IllegalArgumentException("Runner: dependency cycle among " +
        remaining.collect { case (n, d) if d > 0 => n }.toSeq.sorted.mkString(", "))
    out.result()
  }

  // ---- selection ---------------------------------------------------------

  private def globMatch(pattern: String): String => Boolean =
    if (!pattern.exists("*?".contains(_))) _ == pattern
    else {
      val re = pattern.map {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
        case c => c.toString
      }.mkString.r
      s => re.matches(s)
    }

  private def walk(start: Set[String], next: String => Seq[String],
                   depth: Option[Int]): Set[String] = {
    var frontier = start
    var seen = start
    var d = 0
    while (frontier.nonEmpty && depth.forall(d < _)) {
      frontier = frontier.flatMap(next).diff(seen)
      seen ++= frontier
      d += 1
    }
    seen
  }

  private val AtomRe = raw"^(?:(\d*)\+)?(.*?)(?:\+(\d*))?$$".r

  private def expandAtom(atom: String): Set[String] = atom match {
    case AtomRe(anc, core, desc) =>
      val base: Set[String] =
        if (core.startsWith("tag:")) {
          val tag = core.stripPrefix("tag:")
          models.collect { case m if m.tags.contains(tag) => m.name }.toSet
        } else {
          val matches = globMatch(core)
          byName.keySet.filter(matches)
        }
      if (base.isEmpty)
        throw new IllegalArgumentException(s"Runner: selector '$atom' matches no model")
      def d(s: String) = if (s == null) None else if (s.isEmpty) None else Some(s.toInt)
      val up = if (anc != null) walk(base, parentsOf.getOrElse(_, Nil), d(anc)) else base
      val down = if (desc != null) walk(base, childrenOf(_), d(desc)) else base
      up ++ down
    case _ => throw new IllegalArgumentException(s"Runner: bad selector atom '$atom'")
  }

  private def expand(selector: String): Set[String] =
    if (selector.trim.isEmpty) byName.keySet
    else selector.trim.split(raw"\s+").map { term =>
      term.split(',').filter(_.nonEmpty).map(expandAtom)
        .reduceOption(_ intersect _).getOrElse(Set.empty[String])
    }.reduce(_ union _)

  /** The models a `(select, exclude)` pair resolves to, in execution order. */
  def plan(select: String = "", exclude: String = ""): Seq[String] = {
    val chosen = expand(select) --
      (if (exclude.trim.isEmpty) Set.empty[String] else expand(exclude))
    topoOrder.filter(chosen)
  }

  // ---- execution ---------------------------------------------------------

  /** Load the selected subgraph in dependency order. Unselected models are
    * never rebuilt — a downstream ref reads their existing materialized
    * state (views, being ephemeral, rebuild on demand regardless).
    *
    * `threads > 1` executes independent DAG branches CONCURRENTLY (dbt's
    * `--threads`): a model starts once every selected parent finished, so
    * sibling entities of a wide vault (dozens of hubs/sats off one staging
    * layer) load in parallel and keep the cluster busy instead of
    * serializing driver-side. The concurrent models' jobs share Spark's
    * scheduler, FIFO unless the session configures FAIR pools. Correctness
    * is unchanged because two selected models never write the same table
    * and cross-model reads go through the completed parents' materialized
    * state. State the concurrent models do share: this run's `viewCache`
    * (a view may be built twice, never half-built), the SparkContext's
    * local properties (job group, description; the pool's threads inherit
    * them from the thread that starts the run), and, with a
    * [[TxLogTable]] store, its `manifestCache` and `bloomBitsCache`
    * (concurrent maps of immutable entries).
    *
    * `continueOnError = true` is dbt's run semantics: a failing model is
    * recorded as an `error` step, its selected descendants as `skipped`
    * (never attempted — their inputs are missing or stale), and every
    * OTHER branch still loads. The default remains fail-fast: first
    * failure propagates after in-flight work drains. */
  def run(select: String = "", exclude: String = "",
          fullRefresh: Boolean = false, threads: Int = 1,
          continueOnError: Boolean = false): Runner.Result = {
    val order = plan(select, exclude)
    val selected = order.toSet
    val viewCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

    def resolve(name: String): DataFrame = byName.get(name) match {
      case Some(m) if m.materialization == Materialization.View =>
        // plain get-then-put, NOT computeIfAbsent: a view's build may
        // resolve another view, and re-entrant computeIfAbsent on one map
        // can deadlock; a rare duplicate build of a lazy plan is free
        Option(viewCache.get(name)).getOrElse {
          val df = buildOne(m)._1
          Option(viewCache.putIfAbsent(name, df)).getOrElse(df)
        }
      case Some(_) =>
        store.readIfExists(name).getOrElse(throw new IllegalStateException(
          s"Runner: model $name resolved before materialization — " +
            "include it in the selection or load it first"))
      case None => externals(name)
    }

    def buildOne(m: VaultModel): (DataFrame, Seq[String]) = {
      // only Incremental builds see the existing target (dbt: a table/
      // ephemeral model has is_incremental() == false). Every loader
      // treats a non-None target as "return only new rows" — handing a
      // Table build its own previous state would make the overwrite
      // replace the table with just the delta (silent data loss).
      val target =
        if (fullRefresh || m.materialization != Materialization.Incremental) None
        else store.readIfExists(m.name)
      // execution-aware source pruning with the reference's fallbacks
      // (source_models.sql:40-62): all sources when the target is missing /
      // full refresh / nothing selected
      val effective =
        if (m.sourceModels.isEmpty || target.isEmpty) m.sourceModels
        else {
          val sel = m.sourceModels.filter(selected)
          if (sel.isEmpty) m.sourceModels else sel
        }
      (m.build(Runner.Ctx(spark, resolve, effective, target)),
        m.sourceModels.diff(effective))
    }

    def runOne(name: String): Runner.Step = {
      val t0 = System.nanoTime()
      def timed(s: Runner.Step) = s.copy(seconds = (System.nanoTime() - t0) / 1e9)
      val m = byName(name)
      m.materialization match {
        case Materialization.View =>
          Runner.Step(name, "ephemeral", Nil) // built on demand by consumers
        case Materialization.Table =>
          val (df, skipped) = buildOne(m)
          store.overwrite(name, df)
          timed(Runner.Step(name, "table", skipped))
        case Materialization.Incremental =>
          val existed = !fullRefresh && store.exists(name)
          val (df, skipped) = buildOne(m)
          if (existed) store.append(name, df) else store.overwrite(name, df)
          timed(Runner.Step(name, if (existed) "append" else "create", skipped))
      }
    }

    if (threads <= 1 && !continueOnError) Runner.Result(order.map(runOne))
    else if (threads <= 1) {
      // sequential continue-on-error: a failed model poisons its selected
      // descendants transitively; disjoint branches keep loading
      val dead = mutable.Set.empty[String]
      Runner.Result(order.map { name =>
        if (parentsOf(name).exists(dead)) {
          dead += name
          Runner.Step(name, "skipped", Nil)
        } else
          try runOne(name)
          catch {
            case t: Throwable =>
              dead += name
              Runner.Step(name, "error", Nil, error = Some(t.getMessage))
          }
      })
    } else runConcurrent(order, threads, runOne, continueOnError)
  }

  /** dbt's `--retry`: rerun EXACTLY the models a previous continue-on-error
    * run failed or skipped — successful models are not rebuilt (their state
    * is read as-is by any retried downstream). Returns an empty result when
    * there is nothing to retry. */
  def retry(prev: Runner.Result, fullRefresh: Boolean = false,
            threads: Int = 1, continueOnError: Boolean = false): Runner.Result = {
    val targets = prev.steps.collect {
      case s if s.action == "error" || s.action == "skipped" => s.model
    }
    if (targets.isEmpty) Runner.Result(Nil)
    else run(select = targets.mkString(" "), fullRefresh = fullRefresh,
      threads = threads, continueOnError = continueOnError)
  }

  /** Completion-driven scheduling: a node is submitted the moment its last
    * selected parent completes. Dependency counting is over SELECTED nodes
    * only — unselected parents are not run this pass, their state is read
    * as-is. First failure stops new submissions and rethrows after
    * in-flight work drains. */
  private def runConcurrent(order: Seq[String], threads: Int,
                            runOne: String => Runner.Step,
                            continueOnError: Boolean = false): Runner.Result = {
    val selected = order.toSet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val lock = new Object
    val remaining = mutable.Map.from(
      order.map(n => n -> parentsOf(n).count(selected)))
    val steps = mutable.Map.empty[String, Runner.Step]
    var failure: Option[Throwable] = None
    var inFlight = 0

    def submit(name: String): Unit = {
      inFlight += 1
      pool.execute(() => {
        val result =
          try Right(runOne(name))
          catch { case t: Throwable => Left(t) }
        lock.synchronized {
          inFlight -= 1
          result match {
            case Right(step) =>
              steps(name) = step
              if (failure.isEmpty)
                childrenOf(name).filter(selected).foreach { c =>
                  remaining(c) -= 1
                  if (remaining(c) == 0) submit(c)
                }
            case Left(t) if continueOnError =>
              // record the failure, submit no children: descendants stay
              // un-runnable and are reported as skipped below; every other
              // branch keeps loading
              steps(name) = Runner.Step(name, "error", Nil,
                error = Some(t.getMessage))
            case Left(t) => if (failure.isEmpty) failure = Some(t)
          }
          lock.notifyAll()
        }
      })
    }

    lock.synchronized {
      order.filter(remaining(_) == 0).foreach(submit)
      while (inFlight > 0) lock.wait()
    }
    pool.shutdown()
    failure.foreach(throw _)
    val missing = order.filterNot(steps.contains)
    if (continueOnError)
      // un-runnable ⇒ a selected ancestor failed: report, don't throw
      missing.foreach(n => steps(n) = Runner.Step(n, "skipped", Nil))
    else
      // every selected node must have run — a leftover means a dependency
      // was only reachable through a failed/unselected parent chain
      require(missing.isEmpty, s"Runner: models never became runnable: ${missing.mkString(", ")}")
    Runner.Result(order.map(steps))
  }
}
