package graft.runtime

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DAG runner: topological ordering, dbt-style selection, execution-aware
  * source pruning (reference `macros/supporting/source_models.sql:40-62`,
  * `source_model_should_be_selected.sql:1-15`). */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TxLogTable =
    new TxLogTable(spark, Files.createTempDirectory("runner").toString)

  /** diamond with two prunable sources:
    *   src_a ─ stage_a ─┐
    *                    hub ── sat
    *   src_b ─ stage_b ─┘
    * stage_* are ephemeral views over externals; hub is multi-source
    * incremental; sat hangs off stage_a only. Rows are (k, ldts) with the
    * source name stamped so pruning is visible in the data. */
  private def vault(tag: String = ""): Seq[VaultModel] = Seq(
    VaultModel("stage_a", deps = Seq("src_a"),
      materialization = Materialization.View,
      tags = if (tag.nonEmpty) Set(tag) else Set.empty)(
      ctx => ctx.resolve("src_a").withColumn("src", lit("a"))),
    VaultModel("stage_b", deps = Seq("src_b"),
      materialization = Materialization.View)(
      ctx => ctx.resolve("src_b").withColumn("src", lit("b"))),
    VaultModel("hub", sourceModels = Seq("stage_a", "stage_b"))(
      ctx => {
        val unioned = ctx.sources.map(ctx.resolve).reduce(_ unionByName _)
        val fresh = ctx.target match {
          case Some(t) => unioned.join(t, Seq("k"), "left_anti")
          case None    => unioned
        }
        fresh.groupBy("k").agg(min_by(struct("ldts", "src"), col("ldts")).as("s"))
          .select(col("k"), col("s.ldts").as("ldts"), col("s.src").as("src"))
      }),
    VaultModel("sat", deps = Seq("stage_a", "hub"))(
      ctx => {
        val st = ctx.resolve("stage_a")
          .join(ctx.resolve("hub").select("k"), Seq("k"), "left_semi")
        ctx.target match {
          case Some(t) => st.join(t, Seq("k", "ldts"), "left_anti")
          case None    => st
        }
      })
  )

  private def externals(a: DataFrame, b: DataFrame): String => DataFrame = {
    case "src_a" => a
    case "src_b" => b
    case other   => throw new IllegalArgumentException(other)
  }

  private def rows(ks: (Int, Int)*): DataFrame = ks.toSeq.toDF("k", "ldts")

  test("topoOrder is dependency-correct and deterministic") {
    val r = new Runner(spark, freshStore(), vault(),
      externals(rows(1 -> 1), rows(2 -> 1)))
    val order = r.topoOrder
    assert(order.indexOf("stage_a") < order.indexOf("hub"))
    assert(order.indexOf("stage_b") < order.indexOf("hub"))
    assert(order.indexOf("hub") < order.indexOf("sat"))
    assert(order === new Runner(spark, freshStore(), vault(),
      externals(rows(1 -> 1), rows(2 -> 1))).topoOrder)
  }

  test("a dependency cycle fails loudly naming its members") {
    val cyclic = Seq(
      VaultModel("x", deps = Seq("y"))(_ => spark.emptyDataFrame),
      VaultModel("y", deps = Seq("x"))(_ => spark.emptyDataFrame))
    val e = intercept[IllegalArgumentException] {
      new Runner(spark, freshStore(), cyclic)
    }
    assert(e.getMessage.contains("cycle") && e.getMessage.contains("x") &&
      e.getMessage.contains("y"))
  }

  test("selection grammar: graph operators, depth, tag, glob, intersection, exclude") {
    val r = new Runner(spark, freshStore(), vault(tag = "staging"),
      externals(rows(1 -> 1), rows(2 -> 1)))
    assert(r.plan() === r.topoOrder)
    assert(r.plan("hub") === Seq("hub"))
    assert(r.plan("+hub") === Seq("stage_a", "stage_b", "hub"))
    assert(r.plan("stage_a+") === Seq("stage_a", "hub", "sat"))
    assert(r.plan("+sat+").toSet === Set("stage_a", "stage_b", "hub", "sat"))
    assert(r.plan("1+sat") === Seq("stage_a", "hub", "sat"), "depth-1 ancestors")
    assert(r.plan("tag:staging") === Seq("stage_a"))
    assert(r.plan("stage_*").toSet === Set("stage_a", "stage_b"))
    assert(r.plan("stage_*,+hub").toSet === Set("stage_a", "stage_b"), "intersection")
    assert(r.plan("stage_a hub").toSet === Set("stage_a", "hub"), "union")
    assert(r.plan(exclude = "sat") === Seq("stage_a", "stage_b", "hub"))
    intercept[IllegalArgumentException](r.plan("no_such_model"))
  }

  test("full run loads the DAG in order; incremental rerun appends the delta") {
    val store = freshStore()
    val r1 = new Runner(spark, store, vault(),
      externals(rows(1 -> 1, 2 -> 1), rows(2 -> 2, 3 -> 2)))
    val res1 = r1.run()
    assert(res1.actions === Map("stage_a" -> "ephemeral", "stage_b" -> "ephemeral",
      "hub" -> "create", "sat" -> "create"))
    // hub: earliest per key across both sources
    assert(store.read("hub").select("k", "src").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "a"), (3, "b")))

    // second batch: key 4 appears in both sources — earliest wins; key 1 is old
    val r2 = new Runner(spark, store, vault(),
      externals(rows(1 -> 1, 4 -> 3), rows(4 -> 4)))
    val res2 = r2.run()
    assert(res2.actions("hub") === "append")
    assert(store.read("hub").select("k", "src").as[(Int, String)].collect().toSet ===
      Set((1, "a"), (2, "a"), (3, "b"), (4, "a")))
    assert(store.read("sat").select("k", "ldts").as[(Int, Int)].collect().toSet ===
      Set((1, 1), (2, 1), (4, 3)))
  }

  test("execution-aware pruning: hub loads only the selected source") {
    val store = freshStore()
    new Runner(spark, store, vault(),
      externals(rows(1 -> 1), rows(2 -> 1))).run()
    // select stage_a and its descendants — stage_b is NOT in the selection,
    // so the hub must skip it: key 9 (only in src_b) must NOT appear
    val res = new Runner(spark, store, vault(),
      externals(rows(3 -> 5), rows(9 -> 5))).run("stage_a+")
    val hubStep = res.steps.find(_.model == "hub").get
    assert(hubStep.skippedSources === Seq("stage_b"))
    assert(store.read("hub").select("k").as[Int].collect().toSet === Set(1, 2, 3))
  }

  test("pruning fallbacks: no source selected, missing target, full refresh → all sources") {
    val store = freshStore()
    val mk = (a: DataFrame, b: DataFrame) =>
      new Runner(spark, store, vault(), externals(a, b))
    // target missing: selection names only stage_a, but the hub's first
    // build must still read BOTH sources (source_models.sql:56-59)
    val res1 = mk(rows(1 -> 1), rows(2 -> 1)).run("stage_a+ hub")
    assert(res1.steps.find(_.model == "hub").get.skippedSources === Nil)
    assert(store.read("hub").select("k").as[Int].collect().toSet === Set(1, 2))
    // no source in the selection: revert to all (source_models.sql:51-54)
    val res2 = mk(rows(3 -> 2), rows(4 -> 2)).run("hub")
    assert(res2.steps.find(_.model == "hub").get.skippedSources === Nil)
    assert(store.read("hub").select("k").as[Int].collect().toSet === Set(1, 2, 3, 4))
    // full refresh: all sources, overwrite (source_models.sql:61-64)
    val res3 = mk(rows(5 -> 3), rows(6 -> 3)).run("stage_a+", fullRefresh = true)
    assert(res3.actions("hub") === "create")
    assert(store.read("hub").select("k").as[Int].collect().toSet === Set(5, 6))
  }

  test("Table materialization never sees its own target: rerun must not lose rows") {
    val store = freshStore()
    // a delta-deriving build (anti-join vs target) declared as a TABLE —
    // if the runner handed it its previous state, run 2 would overwrite
    // the table with the empty delta (silent data loss)
    val models = Seq(
      VaultModel("dim", materialization = Materialization.Table)(ctx => {
        assert(ctx.target.isEmpty && !ctx.isIncremental,
          "a Table build must not receive its own target (is_incremental=false)")
        val src = ctx.resolve("src_a")
        ctx.target match {
          case Some(t) => src.join(t, Seq("k"), "left_anti")
          case None    => src
        }
      }))
    val r = new Runner(spark, store, models, externals(rows(1 -> 1, 2 -> 1), rows()))
    r.run()
    r.run()
    assert(store.read("dim").count() == 2,
      "second Table run must rebuild the full table, not the delta")
  }

  test("continueOnError: failed branch reported, descendants skipped, others load") {
    // bad → bad_child (must be skipped); good is a disjoint branch
    def models: Seq[VaultModel] = Seq(
      VaultModel("good")(ctx => ctx.resolve("src_a")),
      VaultModel("bad")(_ => throw new RuntimeException("boom")),
      VaultModel("bad_child", deps = Seq("bad"))(ctx => ctx.resolve("bad")),
      VaultModel("bad_grandchild", deps = Seq("bad_child"))(ctx =>
        ctx.resolve("bad_child")))
    for (threads <- Seq(1, 3)) {
      val store = freshStore()
      val r = new Runner(spark, store, models, externals(rows(1 -> 1), rows()))
      val res = r.run(threads = threads, continueOnError = true)
      assert(res.actions("good") == "create", s"threads=$threads")
      assert(res.errors.map(_.model) == Seq("bad"), s"threads=$threads")
      assert(res.errors.head.error.exists(_.contains("boom")))
      assert(res.skipped.toSet == Set("bad_child", "bad_grandchild"),
        s"threads=$threads: failure must poison descendants transitively")
      assert(store.exists("good") && !store.exists("bad") && !store.exists("bad_child"))
      // default stays fail-fast
      intercept[RuntimeException] {
        new Runner(spark, freshStore(), models,
          externals(rows(1 -> 1), rows())).run(threads = threads)
      }

      // retry reruns exactly the failed+skipped subset once the cause is
      // fixed; the successful branch is not rebuilt
      val fixed = Seq(
        VaultModel("good")(ctx => ctx.resolve("src_a")),
        VaultModel("bad")(ctx => ctx.resolve("src_a")),
        VaultModel("bad_child", deps = Seq("bad"))(ctx => ctx.resolve("bad")),
        VaultModel("bad_grandchild", deps = Seq("bad_child"))(ctx =>
          ctx.resolve("bad_child")))
      val r2 = new Runner(spark, store, fixed, externals(rows(1 -> 1), rows()))
      val res2 = r2.retry(res, threads = threads)
      assert(res2.steps.map(_.model).toSet ==
        Set("bad", "bad_child", "bad_grandchild"), s"threads=$threads")
      assert(!res2.actions.contains("good"), "successful model must not rerun")
      assert(store.exists("bad") && store.exists("bad_grandchild"))
      assert(r2.retry(res2).steps.isEmpty, "clean result leaves nothing to retry")
    }
  }

  test("property: continueOnError classification matches the graph, both schedulers") {
    // invariant: error = fails AND every ancestor clean (it was attempted);
    // skipped = some ancestor errored/skipped (never attempted); else
    // success and materialized. Sequential and concurrent must agree.
    val rnd = new scala.util.Random(7)
    for (iter <- 1 to 8) {
      val n = 10
      val parents: Map[Int, Seq[Int]] = (0 until n).map { i =>
        i -> (0 until i).filter(_ => rnd.nextDouble() < 0.3)
      }.toMap
      val failing = (0 until n).filter(_ => rnd.nextDouble() < 0.25).toSet
      def name(i: Int) = s"m$i"
      def models: Seq[VaultModel] = (0 until n).map { i =>
        VaultModel(name(i), deps = parents(i).map(name))(ctx => {
          if (failing(i)) throw new RuntimeException(s"fail-$i")
          (ctx.resolve("src_a") +: parents(i).map(p => ctx.resolve(name(p))))
            .reduce(_ unionByName _).distinct()
        })
      }
      // reference classification by topological walk
      val expected = scala.collection.mutable.Map.empty[String, String]
      for (i <- 0 until n) {
        val anc = parents(i).map(p => expected(name(p)))
        expected(name(i)) =
          if (anc.exists(a => a == "error" || a == "skipped")) "skipped"
          else if (failing(i)) "error"
          else "ok"
      }
      for (threads <- Seq(1, 4)) {
        val store = freshStore()
        val res = new Runner(spark, store, models, externals(rows(1 -> 1), rows()))
          .run(threads = threads, continueOnError = true)
        res.steps.foreach { s =>
          val want = expected(s.model)
          if (want == "ok")
            assert(s.action != "error" && s.action != "skipped",
              s"iter=$iter threads=$threads ${s.model}: wanted ok, got ${s.action}")
          else assert(s.action == want,
            s"iter=$iter threads=$threads ${s.model}: wanted $want, got ${s.action}")
          assert(store.exists(s.model) == (want == "ok"))
        }
        assert(res.steps.map(_.model).toSet == (0 until n).map(name).toSet)
      }
    }
  }

  test("property: random DAGs load identically with threads = 1 and threads = 4") {
    // seeded DAGs of mixed materializations and failing models, each run
    // twice (create, then an incremental delta) into one TxLogTable
    // warehouse per thread count: tables, step actions and
    // continueOnError skips must agree
    import Materialization._
    val rnd = new scala.util.Random(11)
    for (iter <- 1 to 5) {
      val n = 2 + rnd.nextInt(5)
      val parents: Map[Int, Seq[Int]] = (0 until n).map { i =>
        i -> (0 until i).filter(_ => rnd.nextDouble() < 0.4)
      }.toMap
      val mats = (0 until n).map(_ => Seq(View, Table, Incremental)(rnd.nextInt(3)))
      val failing = (0 until n).filter(_ => rnd.nextDouble() < 0.2).toSet
      def name(i: Int) = s"m$i"
      def models: Seq[VaultModel] = (0 until n).map { i =>
        VaultModel(name(i), deps = parents(i).map(name), materialization = mats(i))(ctx => {
          if (failing(i)) throw new RuntimeException(s"fail-$i")
          val in = (ctx.resolve("src_a") +: parents(i).map(p => ctx.resolve(name(p))))
            .reduce(_ unionByName _)
          val out = in.select((col("k") * (i + 1) % 7).as("k"), col("ldts")).distinct()
          ctx.target.fold(out)(t => out.join(t, Seq("k", "ldts"), "left_anti"))
        })
      }
      val runs = Seq(1, 4).map { threads =>
        val store = freshStore()
        val steps = Seq(rows(1 -> 1, 2 -> 1), rows(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 2)).map { src =>
          new Runner(spark, store, models, externals(src, rows()))
            .run(threads = threads, continueOnError = true).steps
            .map(s => (s.model, s.action, s.skippedSources, s.error))
        }
        val tables = (0 until n).map(name).map(m =>
          m -> store.readIfExists(m).map(_.collect().toSet))
        (steps, tables)
      }
      assert(runs(0)._1 === runs(1)._1, s"iter=$iter: steps differ")
      assert(runs(0)._2 === runs(1)._2, s"iter=$iter: tables differ")
    }
  }

  test("threads>1: independent branches run concurrently with identical results") {
    // wide fan-out: one staging view feeding 6 independent sats — the shape
    // whose wall-clock parallel scheduling is for
    val seqStore = freshStore()
    val parStore = freshStore()
    def wide(): Seq[VaultModel] =
      VaultModel("stg", deps = Seq("src"), materialization = Materialization.View)(
        ctx => ctx.resolve("src")) +:
        (1 to 6).map(i => VaultModel(s"sat_$i", deps = Seq("stg"))(ctx =>
          ctx.resolve("stg").filter(col("k") % 6 === i - 1)))
    val src = rows(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 1, 5 -> 1, 6 -> 1)
    val ext: String => DataFrame = { case "src" => src; case o => throw new IllegalArgumentException(o) }
    new Runner(spark, seqStore, wide(), ext).run()
    val res = new Runner(spark, parStore, wide(), ext).run(threads = 4)
    assert(res.steps.map(_.model).toSet === (1 to 6).map(i => s"sat_$i").toSet + "stg")
    (1 to 6).foreach { i =>
      assert(parStore.read(s"sat_$i").collect().toSet ===
        seqStore.read(s"sat_$i").collect().toSet, s"sat_$i parity")
    }
    // dependency order still holds through a chain under parallelism
    val chainStore = freshStore()
    val res2 = new Runner(spark, chainStore, vault(),
      externals(rows(1 -> 1), rows(2 -> 1))).run(threads = 4)
    assert(res2.actions("hub") === "create" && res2.actions("sat") === "create")
    // sat = stage_a (key 1) semi-joined to the completed hub — dependency
    // order held under parallelism
    assert(chainStore.read("sat").select("k").as[Int].collect().toSet === Set(1))
    assert(chainStore.read("hub").select("k").as[Int].collect().toSet === Set(1, 2))
    // a failing model propagates and does not hang the pool
    val bad = Seq(
      VaultModel("ok")(_ => rows(1 -> 1)),
      VaultModel("boom")(_ => throw new RuntimeException("kaput")),
      VaultModel("after", deps = Seq("boom"))(ctx => ctx.resolve("boom")))
    val e = intercept[RuntimeException] {
      new Runner(spark, freshStore(), bad).run(threads = 3)
    }
    assert(e.getMessage.contains("kaput"))
  }

  test("the Runner schedules a TRANSACTIONAL vault (TxLogTable as VaultStore)") {
    val tx = new TxLogTable(spark, Files.createTempDirectory("runner_tx").toString)
    val r1 = new Runner(spark, tx, vault(), externals(rows(1 -> 1, 2 -> 1), rows(3 -> 2)))
    assert(r1.run().actions("hub") === "create")
    // incremental pass: one commit per incremental table, versioned history
    val r2 = new Runner(spark, tx, vault(), externals(rows(4 -> 3), rows(5 -> 4)))
    assert(r2.run().actions("hub") === "append")
    assert(tx.versions("hub") === Seq(1L, 2L), "create + append = two commits")
    assert(tx.read("hub").select("k").as[Int].collect().toSet === Set(1, 2, 3, 4, 5))
    // time travel back to the first load — the runner wrote through the
    // transactional contract, so history is queryable
    assert(tx.readVersion("hub", 1).select("k").as[Int].collect().toSet === Set(1, 2, 3))
  }

  test("an unselected non-view dependency resolves to its stored state, or fails loudly") {
    val store = freshStore()
    val r = new Runner(spark, store, vault(),
      externals(rows(1 -> 1), rows(2 -> 1)))
    // sat selected alone before hub ever ran → hub unmaterialized → loud
    val e = intercept[IllegalStateException](r.run("sat"))
    assert(e.getMessage.contains("hub"))
    r.run("+hub")
    // now sat alone works: hub resolves from the store
    val res = r.run("sat")
    assert(res.actions === Map("sat" -> "create"))
    assert(store.read("sat").select("k").as[Int].collect().toSet === Set(1))
  }
}
