package graft.loaders

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.{HashConfig, Hashing}
import graft.runtime.TxLogTable

/** Property-style invariants over randomized fixtures (seeded — failures
  * reproduce). These are the contracts the reference's loading patterns
  * promise for ANY source, not just the hand-written micro-fixtures:
  *
  *  1. batch-split ≡ full load (sat_v0 incremental protocol)
  *  2. hub earliest-wins is row-order invariant
  *  3. MA hashdiff is input-permutation invariant
  *  4. the standardized pre-hash concat is injective on value tuples
  *     (delimiter/quote/null collisions cannot alias two different rows)
  */
class PropertySpec extends SparkSpec {
  implicit val hc: HashConfig = HashConfig()
  import spark.implicits._

  /** value alphabet biased toward the hash-standardization hazards.
    * (The literal replacement tokens themselves — 'dv4dbt-null-replacement'
    * etc. — are EXCLUDED: the reference's standardization does not escape
    * them, so '^^' and the literal token alias by design; injectivity holds
    * only outside that documented carve-out.) */
  private val nasty = Vector(
    "plain", "a||b", "x^^", "q\"uote", "back\\slash", "", "  padded  ",
    "multi\nline", "tab\tsep", "^^", "||", "\\", "\"",
    "UPPER", "upper", "ü日本", "0", "-1")

  private def randomSource(r: Random, keys: Int, dates: Int): DataFrame = {
    val rows = for {
      k <- 0 until keys
      d <- 0 until dates
      if r.nextDouble() < 0.8 // holes: not every key in every batch
    } yield (s"k$k", f"2024-03-${d + 1}%02d 00:00:00",
      if (r.nextDouble() < 0.1) null else nasty(r.nextInt(nasty.size)))
    rows.toDF("bk", "ldts_s", "payload")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("PROP"))
      .withColumn("hk", Hashing.hashkey(Seq($"bk")))
      .withColumn("hd", Hashing.hashdiff(Seq($"payload")))
  }

  test("sat_v0: any sequential batch split equals the full load") {
    val r = new Random(42)
    for (iter <- 1 to 5) {
      val dates = 2 + r.nextInt(3)
      val src = randomSource(r, keys = 5 + r.nextInt(10), dates = dates)
      val full = SatV0Loader.records(src, Seq("hk"), Some("hd"), Seq("payload"), None)
      val wh = Files.createTempDirectory("graft_prop").toString
      val store = new TxLogTable(spark, wh)
      // random cut: first c dates, then the rest (loader re-sees ALL rows —
      // the HWM filter must ignore the already-loaded prefix)
      val c = 1 + r.nextInt(dates - 1)
      val cutTs = f"2024-03-$c%02d 00:00:00"
      store.append("s", SatV0Loader.records(
        src.filter($"ldts" <= to_timestamp(lit(cutTs))), Seq("hk"), Some("hd"),
        Seq("payload"), None))
      store.append("s", SatV0Loader.records(src, Seq("hk"), Some("hd"),
        Seq("payload"), Some(store.read("s"))))
      val split = store.read("s")
      assert(split.count() == full.count(), s"iter $iter (cut at $c/$dates)")
      assert(split.exceptAll(full).isEmpty && full.exceptAll(split).isEmpty,
        s"iter $iter: content diverged")
    }
  }

  test("incremental protocol: 20 random multi-way splits build identical hub/sat/PIT") {
    val r = new Random(46)
    for (iter <- 1 to 20) {
      val dates = 3 + r.nextInt(4) // 3..6 load days
      val src = randomSource(r, keys = 6 + r.nextInt(8), dates = dates)
      val fullHub = HubLoader.records(
        Seq(EntitySource(src, Some("hk"), Seq("bk"))), "hk", Seq("bk"), None)
      val fullSat = SatV0Loader.records(src, Seq("hk"), Some("hd"),
        Seq("payload"), None)
      // random multi-way timeline split: k batches at random day cuts, each
      // load re-seeing every earlier row (HWM must shrug the prefix off)
      val k = 2 + r.nextInt(dates - 1)
      val cuts = r.shuffle((1 until dates).toList).take(k - 1).sorted
      val bounds = (cuts :+ dates).map(d => f"2024-03-$d%02d 23:59:59")
      val wh = Files.createTempDirectory("graft_prop_proto").toString
      val store = new TxLogTable(spark, wh)
      bounds.foreach { hi =>
        val batch = src.filter($"ldts" <= to_timestamp(lit(hi)))
        store.append("hub", HubLoader.records(
          Seq(EntitySource(batch, Some("hk"), Seq("bk"))), "hk", Seq("bk"),
          store.readIfExists("hub")))
        store.append("sat", SatV0Loader.records(batch, Seq("hk"), Some("hd"),
          Seq("payload"), store.readIfExists("sat")))
      }
      val (hub, sat) = (store.read("hub"), store.read("sat"))
      assert(hub.exceptAll(fullHub).isEmpty && fullHub.exceptAll(hub).isEmpty,
        s"iter $iter: hub diverged (cuts=$cuts/$dates)")
      assert(sat.exceptAll(fullSat).isEmpty && fullSat.exceptAll(sat).isEmpty,
        s"iter $iter: sat diverged (cuts=$cuts/$dates)")
      // the PIT is a pure function of (hub, end-dated sat, snapshots): the
      // split-built vault must produce the same PIT as the one-shot build
      val snaps = (1 to dates).map(d => f"2024-03-$d%02d 12:00:00")
        .toDF("sdts_s").withColumn("sdts", to_timestamp($"sdts_s"))
        .drop("sdts_s").withColumn("is_active", lit(true))
      def pit(h: DataFrame, s0: DataFrame): DataFrame = PitLoader.records(
        h.select("hk").distinct(), "hk",
        Seq(PitSatellite("s", graft.ops.Ops.endDate(s0, "hk"))), snaps,
        "dim_key", referToGhostRecords = false)
      val (p1, p2) = (pit(hub, sat), pit(fullHub, fullSat))
      assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty,
        s"iter $iter: PIT diverged (cuts=$cuts/$dates)")
    }
  }

  test("hub: earliest-wins dedup is invariant under row order") {
    val r = new Random(43)
    for (iter <- 1 to 3) {
      val src = randomSource(r, keys = 8, dates = 3)
      val shuffled = src.orderBy(rand(r.nextLong()))
      val h1 = HubLoader.records(Seq(EntitySource(src, Some("hk"), Seq("bk"))),
        "hk", Seq("bk"), None)
      val h2 = HubLoader.records(Seq(EntitySource(shuffled, Some("hk"), Seq("bk"))),
        "hk", Seq("bk"), None)
      assert(h1.exceptAll(h2).isEmpty && h2.exceptAll(h1).isEmpty, s"iter $iter")
    }
  }

  test("MA hashdiff: permutation of multi-active rows never changes the hash") {
    val r = new Random(44)
    for (iter <- 1 to 3) {
      val rows = (0 until 6).map(i =>
        ("k1", s"ma$i", nasty(r.nextInt(nasty.size))))
      val perm = r.shuffle(rows)
      def hd(data: Seq[(String, String, String)]): String =
        data.toDF("hk", "ma", "v")
          .groupBy("hk").agg(Hashing.maHashdiff(Seq($"v"), Seq($"ma")).as("hd"))
          .select("hd").head().getString(0)
      assert(hd(rows) == hd(perm), s"iter $iter")
    }
  }

  test("pre-hash concat is injective: different value tuples never alias") {
    val r = new Random(45)
    val tuples = (1 to 40).map(_ =>
      (if (r.nextDouble() < 0.15) null else nasty(r.nextInt(nasty.size)),
       if (r.nextDouble() < 0.15) null else nasty(r.nextInt(nasty.size))))
      .distinct
    val pre = tuples.toDF("a", "b")
      .select(Hashing.concatenated(Seq($"a", $"b"),
        caseSensitive = true, useTrim = false).as("p"))
      .collect().map(row => if (row.isNullAt(0)) null else row.getString(0))
    // distinct tuples (modulo the documented trim/all-null equivalences)
    // must produce distinct pre-hash strings
    val byPre = tuples.zip(pre).groupBy(_._2).filter(_._2.map(_._1).distinct.size > 1)
    assert(byPre.isEmpty, s"pre-hash collisions: $byPre")
  }

  test("TxLogTable.merge: any random delta equals delete-matched-then-union") {
    val r = new Random(90210)
    for (iter <- 1 to 5) {
      val wh = Files.createTempDirectory("graft_prop_tx").toString
      val t = new TxLogTable(spark, wh)
      def rows(n: Int, tag: String) = (0 until n).map { _ =>
        (s"k${r.nextInt(20)}", s"$tag${r.nextInt(1000)}")
      }
      val b1 = rows(15, "b").toDF("bk", "payload").dropDuplicates("bk")
      val b2 = rows(15, "c").toDF("bk", "payload").dropDuplicates("bk")
        .join(b1, Seq("bk"), "left_anti") // table keyed by bk across batches
      t.append("t", b1)
      t.append("t", b2)
      val base = b1.unionByName(b2)
      val delta = rows(8, "d").toDF("bk", "payload").dropDuplicates("bk")
      t.merge("t", delta, Seq("bk"))
      val want = base.join(delta.select("bk"), Seq("bk"), "left_anti")
        .unionByName(delta)
        .as[(String, String)].collect().toSet
      val got = t.read("t").as[(String, String)].collect().toSet
      assert(got == want, s"iter $iter")
    }
  }

  test("appendOnce: any interleaving of batches and replays equals each batch once") {
    val r = new Random(4711)
    for (iter <- 1 to 5) {
      val wh = Files.createTempDirectory("graft_prop_txn").toString
      val t = new TxLogTable(spark, wh)
      val nBatches = 1 + r.nextInt(4)
      val batches = (0 until nBatches).map { b =>
        b.toLong -> (0 until 1 + r.nextInt(5)).map(i => (s"b$b-r$i", b)).toDF("id", "b")
      }.toMap
      // schedule: every batch at least once (in order), replays injected at
      // random — including out-of-order replays of older batches
      val schedule = batches.keys.toSeq.sorted.flatMap { b =>
        Seq(b) ++ Seq.fill(r.nextInt(3))(r.nextLong(b + 1))
      }
      schedule.foreach(b => t.appendOnce("t", batches(b), "app", b))
      val want = batches.values.reduce(_ unionByName _)
        .as[(String, Long)].collect().toSet
      val got = t.read("t").as[(String, Long)].collect().toSet
      assert(got == want, s"iter $iter schedule=$schedule")
      assert(t.txnVersion("t", "app").contains(nBatches - 1L), s"iter $iter")
    }
  }

  test("connectedComponents: path-halved labels equal union-find on random graphs") {
    val r = new Random(4242)
    for (iter <- 1 to 5) {
      val n = 40 + r.nextInt(40)
      // mix of sparse chains (long diameters — the case path halving is
      // for) and random edges
      val chain = (0 until n - 1).filter(_ => r.nextInt(3) > 0)
        .map(i => (i.toLong, (i + 1).toLong))
      val rand = (0 until n / 2).map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val pairs = (chain ++ rand).toDF("x", "y")
      // driver-side union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(a: Int): Int = { var x = a; while (parent(x) != x) x = parent(x); x }
      (chain ++ rand).foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val inGraph = (chain ++ rand).flatMap(e => Seq(e._1, e._2)).toSet
      val want = inGraph.map(v => v -> {
        // component label = min node id: walk to the root, which IS the min
        // because union always attaches the larger root under the smaller
        find(v.toInt).toLong
      }).toMap
      val got = graft.ops.GraphOps.connectedComponents(pairs, "x", "y")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"iter $iter (n=$n, edges=${chain.size + rand.size})")
    }
  }
}
