package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-pattern operators: exact distinct counting via mergeable bitmap
  * words (the Druid/ClickHouse trick), deterministic multi-epoch training
  * shuffles, and dynamic partition overwrite — each a pattern whose value
  * IS the 100 TB story, verified at test scale against an oracle.
  */
object ScaleQueries {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** the files the planned scan of TxLogTable `t` keeps for `c` BETWEEN
    * 100 AND 120 — the z-order queries' narrow probe */
  private def rangeProbe(store: graft.runtime.TxLogTable, t: String, c: String): Int =
    graft.sources.LogScan.keptFiles(store.read(t).where(col(c).between(100, 120))).size

  /** Portable multiplicative mix (same arithmetic both engines, every
    * intermediate far below 2^63) used for the reproducible shuffle. */
  private def mix(k: String, e: String): String =
    s"(((($k % 1048573) * 2654435761 + CAST($e AS BIGINT) * 998244353)" +
      " % 2147483647) * 69069 + 907633385) % 2147483647"

  /** xor-folded variant for BUCKETING uses (Bloom positions): the plain
    * multiplicative mix has no avalanche in its low bits, so sequential
    * ids land in correlated buckets (measured: 80× the theoretical Bloom
    * fp rate). Folding the high bits down fixes it; only the xor/shift
    * SYNTAX differs between engines. */
  private def mixFold(k: String, e: String, spark: Boolean): String = {
    val a = s"(${mix(k, e)})"
    if (spark) s"($a ^ shiftright($a, 16) ^ shiftright($a, 27))"
    else s"xor(xor($a, $a >> 16), $a >> 27)"
  }

  val all: Seq[Q] = Seq(

    // EXACT DISTINCT-COUNT ROLLUP via bitmap words: user ids are packed
    // into long words (word = id div 63, bit = id mod 63), each
    // (event_type, word) folds to ONE bit_or'd long, and distinct = Σ
    // bit_count(word). The per-word masks are MERGEABLE — the '__all'
    // row is re-aggregated from the per-type masks by OR, never from the
    // raw events — which is the whole point at 100 TB: exact distinct
    // with O(id-range/64) state, partial-aggregated map-side, and
    // rollup-able across dimensions after the single raw scan. The
    // countDistinct cross-check column pins the bitmap math to the naive
    // answer.
    Q("bitmap_distinct_rollup",
      (s, dir) => {
        // 63-bit words, not 64: DuckDB rejects 1<<63 (signed overflow), so
        // both sides pack 63 ids per word — same exactness, same merge law
        val e = rd(s, dir, "events").select(col("event_type"),
          expr("user_id div 63").as("w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").as("m"))
        val words = e.groupBy(col("event_type"), col("w"))
          .agg(expr("bit_or(m)").as("mask"))
        val perType = words.groupBy("event_type")
          .agg(sum(expr("CAST(bit_count(mask) AS BIGINT)")).as("n_distinct_bitmap"))
        val allRow = words.groupBy("w").agg(expr("bit_or(mask)").as("mask"))
          .agg(sum(expr("CAST(bit_count(mask) AS BIGINT)")).as("n_distinct_bitmap"))
          .withColumn("event_type", lit("__all"))
        val naive = rd(s, dir, "events").groupBy("event_type")
          .agg(countDistinct("user_id").as("n_distinct_naive"))
          .unionByName(rd(s, dir, "events")
            .agg(countDistinct("user_id").as("n_distinct_naive"))
            .withColumn("event_type", lit("__all")))
        perType.unionByName(allRow.select("event_type", "n_distinct_bitmap"))
          .join(naive, Seq("event_type"))
      },
      Some("""WITH words AS (
             |  SELECT event_type, user_id // 63 AS w,
             |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS mask
             |  FROM events GROUP BY 1, 2),
             |per_type AS (
             |  SELECT event_type,
             |    cast(sum(bit_count(mask)) AS BIGINT) AS n_distinct_bitmap
             |  FROM words GROUP BY 1
             |  UNION ALL
             |  SELECT '__all', cast(sum(bit_count(mask)) AS BIGINT) FROM (
             |    SELECT w, bit_or(mask) AS mask FROM words GROUP BY 1)),
             |naive AS (
             |  SELECT event_type,
             |    cast(count(DISTINCT user_id) AS BIGINT) AS n_distinct_naive
             |  FROM events GROUP BY 1
             |  UNION ALL
             |  SELECT '__all', cast(count(DISTINCT user_id) AS BIGINT) FROM events)
             |SELECT p.event_type, p.n_distinct_bitmap, n.n_distinct_naive
             |FROM per_type p JOIN naive n USING (event_type)""".stripMargin)),

    // DETERMINISTIC MULTI-EPOCH SHUFFLE: reproducible training-data
    // ordering — epoch e orders documents by a hash mixed with e, shard
    // = hash mod 8. No randomness, no driver state: re-running ANY epoch
    // on ANY cluster layout yields byte-identical shard assignment (the
    // property that makes a 100 TB training run resumable). Emitted per
    // epoch: permutation proof (docs == distinct docs == corpus size),
    // shard-size spread, and payload (char) imbalance across shards.
    Q("epoch_shuffle",
      (s, dir) => {
        val d = rd(s, dir, "documents").select(col("doc_id"), col("n_chars"))
          .withColumn("epoch", explode(expr("sequence(0, 2)")))
          .withColumn("shard", expr(s"${mix("doc_id", "epoch")} % 8"))
        val shards = d.groupBy("epoch", "shard")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        shards.groupBy("epoch")
          .agg(sum("n").as("n_docs"),
            count(lit(1)).as("n_shards"),
            min("n").as("min_shard"), max("n").as("max_shard"),
            round((max("chars") - min("chars")).cast("double") /
              (sum("chars") / count(lit(1))) * 100.0, 2).as("char_imbalance_pct"))
          .join(d.groupBy("epoch")
            .agg(countDistinct("doc_id").as("n_distinct_docs")), Seq("epoch"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, n_chars, e.epoch,
              |    (${mix("doc_id", "e.epoch")}) % 8 AS shard
              |  FROM documents CROSS JOIN
              |    (SELECT range AS epoch FROM range(0, 3)) e),
              |sh AS (SELECT epoch, shard, cast(count(*) AS BIGINT) AS n,
              |         cast(sum(n_chars) AS BIGINT) AS chars
              |       FROM d GROUP BY 1, 2)
              |SELECT epoch, cast(sum(n) AS BIGINT) AS n_docs,
              |  cast(count(*) AS BIGINT) AS n_shards,
              |  cast(min(n) AS BIGINT) AS min_shard,
              |  cast(max(n) AS BIGINT) AS max_shard,
              |  round(cast(max(chars) - min(chars) AS double) /
              |    (cast(sum(chars) AS double) / count(*)) * 100.0, 2)
              |    AS char_imbalance_pct,
              |  (SELECT cast(count(DISTINCT doc_id) AS BIGINT) FROM d d2
              |   WHERE d2.epoch = sh.epoch) AS n_distinct_docs
              |FROM sh GROUP BY epoch""".stripMargin)),

    // DYNAMIC PARTITION OVERWRITE: rewrite ONLY the partitions present
    // in the incoming frame, leaving every other partition's files
    // untouched — the idempotent daily-restatement write a 100 TB
    // day-partitioned corpus depends on (static overwrite would drop
    // all 30 days to restate 2). Proven by read-back: two days get
    // doubled values, the other 28 must still byte-match the original
    // load. Writer-local option, no session-level config mutation.
    Q("dynamic_partition_overwrite",
      (s, dir) => {
        val path = DvQueries.tmpWarehouse("graft_dyn_part") + "/events_by_day"
        val e = rd(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            col("ts").cast("timestamp").as("ts"))
          .withColumn("day", to_date(col("ts")))
        e.write.mode("overwrite").partitionBy("day").parquet(path)
        val restate = e
          .filter(col("day").isin(
            java.sql.Date.valueOf("2024-01-05"), java.sql.Date.valueOf("2024-01-06")))
          .withColumn("value", col("value") * 2)
        restate.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(path)
        s.read.parquet(path)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
      },
      // NB: DuckDB 1.0.0 evaluates DATE IN (DATE-list) to false here —
      // use OR'd equality, which behaves
      Some("""SELECT cast(ts AS DATE) AS day,
             |  cast(count(*) AS BIGINT) AS n_events,
             |  cast(sum(CASE WHEN cast(ts AS DATE) = DATE '2024-01-05'
             |               OR cast(ts AS DATE) = DATE '2024-01-06'
             |    THEN cast(round(value * 200) AS BIGINT)
             |    ELSE cast(round(value * 100) AS BIGINT) END) AS BIGINT) AS cents
             |FROM events GROUP BY 1""".stripMargin)),

    // HASH-COLLISION AUDIT — the Data Vault operational check that the
    // hashkey space is collision-free: every business key across the
    // hub domains (prefixed, so customer 7 ≠ order 7) must map to a
    // distinct MD5. The full-width column proves zero collisions; the
    // 5-hex-truncated shadow column deliberately provokes birthday
    // collisions (16.5k keys into a 2^20 space) so the AUDIT ITSELF is
    // exercised — a check that can't fire is no check. One distinct-agg
    // pass; at 100 TB this is the same single shuffle on the hash.
    Q("hash_collision_audit",
      (s, dir) => {
        val keys = rd(s, dir, "customer")
          .select(concat(lit("C"), col("c_custkey")).as("bk"))
          .unionByName(rd(s, dir, "orders")
            .select(concat(lit("O"), col("o_orderkey")).as("bk")))
        keys.select(col("bk"), lower(md5(col("bk"))).as("hk"))
          .withColumn("hk5", substring(col("hk"), 1, 5))
          .agg(count(lit(1)).as("n_keys"),
            countDistinct(col("hk")).as("n_distinct_md5"),
            (count(lit(1)) - countDistinct(col("hk"))).as("n_collisions_md5"),
            countDistinct(col("hk5")).as("n_distinct_trunc5"),
            (count(lit(1)) - countDistinct(col("hk5"))).as("n_collisions_trunc5"))
      },
      Some("""WITH keys AS (
             |  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS bk FROM customer
             |  UNION ALL
             |  SELECT 'O' || CAST(o_orderkey AS VARCHAR) FROM orders),
             |h AS (SELECT bk, lower(md5(bk)) AS hk,
             |        substring(lower(md5(bk)), 1, 5) AS hk5 FROM keys)
             |SELECT cast(count(*) AS BIGINT) AS n_keys,
             |  cast(count(DISTINCT hk) AS BIGINT) AS n_distinct_md5,
             |  cast(count(*) - count(DISTINCT hk) AS BIGINT) AS n_collisions_md5,
             |  cast(count(DISTINCT hk5) AS BIGINT) AS n_distinct_trunc5,
             |  cast(count(*) - count(DISTINCT hk5) AS BIGINT) AS n_collisions_trunc5
             |FROM h""".stripMargin)),

    // BLOOM-FILTER JOIN PRUNING — semi-join reduction in its cheapest
    // form: the selective dim-key set (high-balance customers) folds to
    // a 4096-bit Bloom filter (65 packed longs, k=3 portable hashes),
    // the ~1 KB filter rides to the fact scan as ONE broadcast row, and
    // facts failing any probe never reach the join shuffle. At 100 TB
    // this is the difference between shuffling the whole fact table and
    // shuffling the ~matching slice + a provably-bounded false-positive
    // tail — which this query MEASURES (n_false_positive, fp_rate) by
    // re-checking survivors against the real key set.
    Q("bloom_join_prune",
      (s, dir) => {
        val dim = rd(s, dir, "customer")
          .filter(col("c_acctbal") > 9000.0)
          .select(col("c_custkey").as("k"))
        val words = dim
          .withColumn("j", explode(expr("sequence(0, 2)")))
          .select(expr(s"(${mixFold("k", "j", spark = true)}) % 4096").as("pos"))
          .select(expr("pos div 63").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").as("m"))
          .groupBy("w").agg(expr("bit_or(m)").as("mask"))
        // membership via THREE broadcast hash joins on word id — the whole
        // probe stays in whole-stage codegen. (Earlier shapes measured at
        // sf0.1: hash inlined in an array-exists lambda 8.7s, lambda with
        // projected positions 4.3s — array HOFs are interpreted, not
        // codegen'd — this plan ~1s.) Probe positions are projected once
        // per row; a missing word joins to NULL and fails the bit test.
        val withPos = (0 to 2).foldLeft(
          rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey").as("k"))) {
          (d, j) =>
            d.withColumn(s"p$j",
                expr(s"(${mixFold("k", j.toString, spark = true)}) % 4096"))
              .withColumn(s"w$j", expr(s"p$j div 63"))
              .withColumn(s"m$j",
                expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p$j % 63 AS INT))"))
        }
        val probed = (0 to 2).foldLeft(withPos) { (d, j) =>
          d.join(broadcast(words.select(col("w").as(s"w$j"),
            col("mask").as(s"mask$j"))), Seq(s"w$j"), "left")
        }
        val member = (0 to 2).map { j =>
          col(s"mask$j").isNotNull &&
            (col(s"mask$j").bitwiseAND(col(s"m$j")) =!= 0L)
        }.reduce(_ && _)
        val flagged = probed
          .withColumn("pass_bloom", member)
          .join(broadcast(dim.withColumn("in_dim", lit(true))), Seq("k"), "left")
        val stats = flagged.agg(count(lit(1)).as("n_facts"),
            sum(when(col("pass_bloom"), 1L).otherwise(0L)).as("n_pass_bloom"),
            sum(when(col("pass_bloom") && col("in_dim").isNotNull, 1L)
              .otherwise(0L)).as("n_true_match"))
          .crossJoin(broadcast(dim.agg(count(lit(1)).as("n_dim_keys"))))
        stats.select(col("n_facts"), col("n_pass_bloom"), col("n_true_match"),
          (col("n_pass_bloom") - col("n_true_match")).as("n_false_positive"),
          round((col("n_pass_bloom") - col("n_true_match")).cast("double") /
            (col("n_facts") - col("n_true_match")) * 100.0, 3).as("fp_rate_pct"),
          col("n_dim_keys"))
      },
      Some(s"""WITH dim AS (
              |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000),
              |pos AS (SELECT (${mixFold("dim.k", "r.range", spark = false)}) % 4096 AS pos
              |        FROM dim CROSS JOIN range(0, 3) r),
              |words AS (SELECT pos // 63 AS w,
              |            bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS mask
              |          FROM pos GROUP BY 1),
              |fb AS (SELECT o.o_orderkey, o.o_custkey AS k,
              |         (${mixFold("o.o_custkey", "r.range", spark = false)}) % 4096 AS pos
              |       FROM orders o CROSS JOIN range(0, 3) r),
              |pass AS (
              |  SELECT fb.o_orderkey, fb.k FROM fb
              |  JOIN words w ON w.w = fb.pos // 63
              |    AND (w.mask & (CAST(1 AS BIGINT) << CAST(fb.pos % 63 AS INT))) != 0
              |  GROUP BY 1, 2 HAVING count(*) = 3),
              |tm AS (SELECT count(*) AS n_true_match FROM pass
              |       WHERE k IN (SELECT k FROM dim)),
              |np AS (SELECT count(*) AS n_pass_bloom FROM pass),
              |nf AS (SELECT count(*) AS n_facts FROM orders),
              |nd AS (SELECT count(*) AS n_dim_keys FROM dim)
              |SELECT cast(nf.n_facts AS BIGINT) AS n_facts,
              |  cast(np.n_pass_bloom AS BIGINT) AS n_pass_bloom,
              |  cast(tm.n_true_match AS BIGINT) AS n_true_match,
              |  cast(np.n_pass_bloom - tm.n_true_match AS BIGINT) AS n_false_positive,
              |  round(cast(np.n_pass_bloom - tm.n_true_match AS double) /
              |    (nf.n_facts - tm.n_true_match) * 100.0, 3) AS fp_rate_pct,
              |  cast(nd.n_dim_keys AS BIGINT) AS n_dim_keys
              |FROM nf, np, tm, nd""".stripMargin)),

    // INCREMENTAL VIEW MAINTENANCE for a JOIN mart (insert-only): the
    // orders⋈customer mart is maintained from base state + deltas as
    // A₀⋈B₀ ∪ ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB — each term joins a DELTA
    // against a base, never recomputing the full join. At 100 TB the
    // full recompute reshuffles everything daily; the delta plan's cost
    // is O(Δ · match-rate). The oracle IS the full recompute, so any
    // missing/duplicated term shows up as a red row.
    Q("ivm_join_delta",
      (s, dir) => {
        val cut = to_timestamp(lit("2000-01-01 00:00:00"))
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("od"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val c = rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        val (o0, dO) = (o.filter(col("od") < cut), o.filter(col("od") >= cut))
        val (c0, dC) = (c.filter(col("c_custkey") <= 1200),
          c.filter(col("c_custkey") > 1200))
        def term(a: DataFrame, b: DataFrame) =
          a.join(b, a("o_custkey") === b("c_custkey"))
            .select(col("o_orderkey"), col("segment"), col("cents"))
        val maintained = term(o0, c0).unionByName(term(dO, c0))
          .unionByName(term(o0, dC)).unionByName(term(dO, dC))
        maintained.groupBy("segment")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
      },
      Some("""SELECT c.c_mktsegment AS segment,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents
             |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             |GROUP BY 1""".stripMargin)),

    // JOIN-STRATEGY PROOF, driver-gated like filter_pushdown_proof: the
    // dim-chain join (region → nation → customer; small sides ≤ 25
    // rows) must plan BROADCAST hash joins — zero nested-loop or
    // cartesian operators anywhere — and the plan facts are emitted AS
    // COLUMNS the oracle pins. At 100 TB a dim join that falls off the
    // broadcast path reshuffles the whole fact side; this query turns
    // that regression into a red correctness row, not a slow night.
    Q("join_strategy_proof",
      (s, dir) => {
        val q = rd(s, dir, "customer")
          .join(broadcast(rd(s, dir, "nation")
            .join(broadcast(rd(s, dir, "region")),
              col("n_regionkey") === col("r_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("r_name").as("region"))
          .agg(count(lit(1)).as("n_customers"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))
        // string inspection, not collect(): under AQE the executed plan is
        // an AdaptiveSparkPlanExec whose inner tree collect() won't visit
        val plan = q.queryExecution.executedPlan.toString
        val nBhj = "BroadcastHashJoin".r.findAllIn(plan).size
        val nLoop = "BroadcastNestedLoopJoin".r.findAllIn(plan).size +
          "CartesianProduct".r.findAllIn(plan).size
        q.withColumn("both_joins_broadcast", lit(nBhj >= 2))
          .withColumn("no_loop_joins", lit(nLoop == 0))
      },
      Some("""SELECT r.r_name AS region,
             |  cast(count(*) AS BIGINT) AS n_customers,
             |  cast(sum(cast(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |    AS acctbal_cents,
             |  TRUE AS both_joins_broadcast, TRUE AS no_loop_joins
             |FROM customer c
             |JOIN nation n ON n.n_nationkey = c.c_nationkey
             |JOIN region r ON r.r_regionkey = n.n_regionkey
             |GROUP BY 1""".stripMargin)),

    // SAMPLE-BASED QUERY ESTIMATION (AQUA-style): total purchase revenue
    // estimated from a DETERMINISTIC 10% cluster sample of users —
    // sampling unit = user, membership = portable hash, so every
    // engine/run picks the identical sample and the estimate is
    // reproducible. The scan touches 10% of the data; the Horvitz-
    // Thompson scale-up and the between-user-variance 95% CI come from
    // the sample alone. The exact answer rides along to expose the
    // realized error. At 100 TB this is the interactive tier: a bounded
    // scan with a calibrated error bar instead of the full pass.
    Q("sampled_query_estimate",
      (s, dir) => {
        val perUser = rd(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .groupBy("user_id")
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        val sample = perUser
          .filter(expr(s"(${mixFold("user_id", "0", spark = true)}) % 100 < 10"))
        val est = sample.agg(
          count(lit(1)).as("n_users_sampled"),
          sum("cents").as("sample_cents"),
          stddev_samp(col("cents").cast("double")).as("sd"))
        val exact = perUser.agg(sum("cents").as("exact_cents"),
          count(lit(1)).as("n_users_total"))
        exact.crossJoin(broadcast(est))
          .select(col("exact_cents"), col("n_users_total"), col("n_users_sampled"),
            (col("sample_cents") * 10).as("est_cents"),
            round(abs(col("sample_cents") * 10 - col("exact_cents")).cast("double") /
              col("exact_cents") * 100.0, 2).as("rel_err_pct"),
            round(col("sample_cents") * 10 - lit(1.96) * lit(10.0) *
              sqrt(col("n_users_sampled")) * col("sd"), 0).as("ci95_lo"),
            round(col("sample_cents") * 10 + lit(1.96) * lit(10.0) *
              sqrt(col("n_users_sampled")) * col("sd"), 0).as("ci95_hi"))
      },
      Some(s"""WITH pu AS (
              |  SELECT user_id, cast(sum(cast(round(value * 100) AS BIGINT))
              |    AS BIGINT) AS cents
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
              |sam AS (SELECT * FROM pu
              |        WHERE (${mixFold("user_id", "0", spark = false)}) % 100 < 10),
              |est AS (SELECT cast(count(*) AS BIGINT) AS n_users_sampled,
              |          cast(sum(cents) AS BIGINT) AS sample_cents,
              |          stddev_samp(cast(cents AS double)) AS sd FROM sam),
              |ex AS (SELECT cast(sum(cents) AS BIGINT) AS exact_cents,
              |         cast(count(*) AS BIGINT) AS n_users_total FROM pu)
              |SELECT ex.exact_cents, ex.n_users_total, est.n_users_sampled,
              |  cast(est.sample_cents * 10 AS BIGINT) AS est_cents,
              |  round(abs(cast(est.sample_cents * 10 - ex.exact_cents AS double))
              |    / ex.exact_cents * 100.0, 2) AS rel_err_pct,
              |  round(est.sample_cents * 10 - 1.96 * 10.0 *
              |    sqrt(est.n_users_sampled) * est.sd, 0) AS ci95_lo,
              |  round(est.sample_cents * 10 + 1.96 * 10.0 *
              |    sqrt(est.n_users_sampled) * est.sd, 0) AS ci95_hi
              |FROM ex CROSS JOIN est""".stripMargin)),

    // MERKLE CONTENT CHECKSUM — order-independent table fingerprinting
    // for cross-replica anti-entropy: every row folds to an md5 over a
    // canonical string encoding (cents for floats, explicit timestamp
    // format — never raw double/ts rendering, which engines print
    // differently), rows bucket by their hash's first 2 hex chars
    // (≤256 bounded groups), each bucket digests its SORTED row hashes,
    // and the root digests the sorted bucket digests. Two replicas
    // compare roots, then only the differing buckets — O(tree) repair
    // traffic instead of re-shipping 100 TB. Tables differing in ANY
    // row value produce different roots; row order never matters.
    Q("content_checksum_manifest",
      (s, dir) => {
        def fingerprint(df: DataFrame, table: String, rowStr: org.apache.spark.sql.Column) = {
          val rows = df.select(md5(rowStr).as("h"))
          val buckets = rows.groupBy(substring(col("h"), 1, 2).as("b"))
            .agg(md5(concat_ws("", sort_array(collect_list(col("h"))))).as("d"),
              count(lit(1)).as("n"))
          buckets.agg(
            md5(concat_ws("", sort_array(collect_list(concat(col("b"), col("d"))))))
              .as("merkle_root"),
            sum("n").as("n_rows"))
            .withColumn("table_name", lit(table))
        }
        val c = fingerprint(rd(s, dir, "customer"), "customer",
          concat_ws("|", col("c_custkey"), col("c_name"),
            round(col("c_acctbal") * 100).cast("long"), col("c_mktsegment")))
        val o = fingerprint(rd(s, dir, "orders"), "orders",
          concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long"),
            date_format(col("o_orderdate").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")))
        val n = fingerprint(rd(s, dir, "nation"), "nation",
          concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
        c.unionByName(o).unionByName(n)
          .select(col("table_name"), col("n_rows"), col("merkle_root"))
      },
      Some("""WITH rows_c AS (SELECT md5(c_custkey || '|' || c_name || '|' ||
             |    CAST(cast(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) || '|' ||
             |    c_mktsegment) AS h FROM customer),
             |rows_o AS (SELECT md5(o_orderkey || '|' || o_custkey || '|' ||
             |    o_orderstatus || '|' ||
             |    CAST(cast(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
             |    strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS h FROM orders),
             |rows_n AS (SELECT md5(n_nationkey || '|' || n_name || '|' ||
             |    CAST(n_regionkey AS VARCHAR)) AS h FROM nation),
             |f AS (
             |  SELECT 'customer' AS table_name, h FROM rows_c
             |  UNION ALL SELECT 'orders', h FROM rows_o
             |  UNION ALL SELECT 'nation', h FROM rows_n),
             |b AS (SELECT table_name, substring(h, 1, 2) AS bk,
             |        md5(string_agg(h, '' ORDER BY h)) AS d,
             |        count(*) AS n
             |      FROM f GROUP BY 1, 2)
             |SELECT table_name, cast(sum(n) AS BIGINT) AS n_rows,
             |  md5(string_agg(bk || d, '' ORDER BY bk || d)) AS merkle_root
             |FROM b GROUP BY 1""".stripMargin)),

    // WATERMARK DISORDER PROFILE: how late does data really arrive?
    // Arrival order is simulated with a deterministic per-event network
    // delay (portable hash, 0-299 s); lateness of an event = the max
    // event-time already seen in its user's arrival stream minus its own
    // event-time. The emitted quantiles are exactly the numbers that
    // calibrate `withWatermark` — pick the p99 and the streaming
    // pipeline drops <1% while bounding state. One per-user window +
    // one global aggregate; no global sort.
    Q("watermark_disorder_profile",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = rd(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            col("ts").cast("timestamp").cast("double").as("ets"))
          .withColumn("arrival",
            col("ets") + expr(s"(${mixFold("event_id", "1", spark = true)}) % 300"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("arrival"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("late_s", max(col("ets")).over(w) - col("ets"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(when(col("late_s") > 0.0, 1L).otherwise(0L)).cast("double") /
              count(lit(1)) * 100.0, 2).as("pct_late"),
            round(expr("percentile(late_s, 0.5)"), 2).as("p50_late_s"),
            round(expr("percentile(late_s, 0.95)"), 2).as("p95_late_s"),
            round(expr("percentile(late_s, 0.99)"), 2).as("p99_late_s"),
            round(max("late_s"), 2).as("max_late_s"))
      },
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, epoch(ts) AS ets,
              |    epoch(ts) + (${mixFold("event_id", "1", spark = false)}) % 300
              |      AS arrival
              |  FROM events),
              |l AS (
              |  SELECT ets, max(ets) OVER (PARTITION BY user_id
              |    ORDER BY arrival, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ets
              |    AS late_s
              |  FROM e)
              |SELECT cast(count(*) AS BIGINT) AS n_events,
              |  round(cast(sum(CASE WHEN late_s > 0.0 THEN 1 ELSE 0 END) AS double)
              |    / count(*) * 100.0, 2) AS pct_late,
              |  round(quantile_cont(late_s, 0.5), 2) AS p50_late_s,
              |  round(quantile_cont(late_s, 0.95), 2) AS p95_late_s,
              |  round(quantile_cont(late_s, 0.99), 2) AS p99_late_s,
              |  round(max(late_s), 2) AS max_late_s
              |FROM l""".stripMargin)),

    // GLOBAL TOP-K PROOF, driver-gated: ORDER BY + LIMIT must plan as
    // TakeOrderedAndProject (per-partition heaps + a k-row merge), never
    // a full global Sort — the difference between O(n log k) with k rows
    // moved and a total shuffle of 100 TB. The plan fact is an emitted
    // column the oracle pins to true; the top-20 rows ride along so the
    // proof can't pass on a wrong plan.
    Q("global_topk_proof",
      (s, dir) => {
        val q = rd(s, dir, "orders")
          .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
          .orderBy(col("price").desc, col("o_orderkey"))
          .limit(20)
        val plan = q.queryExecution.executedPlan.toString
        q.withColumn("uses_take_ordered",
            lit(plan.contains("TakeOrderedAndProject")))
          .withColumn("no_full_sort", lit(!plan.contains("Sort [")))
      },
      Some("""SELECT o_orderkey, round(o_totalprice, 2) AS price,
             |  TRUE AS uses_take_ordered, TRUE AS no_full_sort
             |FROM orders
             |ORDER BY price DESC, o_orderkey LIMIT 20""".stripMargin)),

    // PARTIAL-AGGREGATION PROOF, driver-gated: a grouped count must show
    // the two-phase HashAggregate (partial_count before the exchange,
    // final count after) — map-side combine is what turns a 100 TB
    // group-by from shuffling every row into shuffling one row per
    // (partition × group). Plan facts pinned as columns.
    Q("partial_agg_proof",
      (s, dir) => {
        val q = rd(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"))
        val plan = q.queryExecution.executedPlan.toString
        val nHash = "HashAggregate".r.findAllIn(plan).size
        q.withColumn("two_phase_agg", lit(nHash >= 2))
          .withColumn("map_side_combine", lit(plan.contains("partial_count")))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n,
             |  TRUE AS two_phase_agg, TRUE AS map_side_combine
             |FROM orders GROUP BY 1""".stripMargin)),

    // EXCHANGE-REUSE PROOF, driver-gated: the same aggregate consumed
    // twice (self-union) must REUSE its shuffle (ReusedExchange in the
    // plan), not recompute it — Catalyst's common-subplan dedup, which
    // at 100 TB halves the heaviest stage of any diamond-shaped DAG.
    Q("exchange_reuse_proof",
      (s, dir) => {
        val base = rd(s, dir, "orders")
          .groupBy(col("o_orderstatus").as("status"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        val q = base.withColumn("side", lit("a"))
          .unionByName(base.withColumn("side", lit("b")))
        // under AQE exchange reuse materializes at RUNTIME, and only on
        // THIS dataset's own QueryExecution — execute q itself (a derived
        // action like q.count() builds a different plan), then read the
        // finalized adaptive plan
        q.collect()
        val plan = q.queryExecution.executedPlan.toString
        q.withColumn("exchange_reused", lit(plan.contains("ReusedExchange")))
      },
      Some("""WITH a AS (
             |  SELECT o_orderstatus AS status,
             |    cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |      AS cents
             |  FROM orders GROUP BY 1)
             |SELECT status, cents, 'a' AS side, TRUE AS exchange_reused FROM a
             |UNION ALL
             |SELECT status, cents, 'b', TRUE FROM a""".stripMargin)),

    // VERSION DATA-DIFF over the transaction log: two committed versions
    // of a table diffed by key — rows added / removed / value-changed /
    // unchanged — the ops tool behind "what did last night's load
    // actually do". One full-outer join on the key between two
    // time-travel reads; at 100 TB the manifest's file stats restrict
    // both sides to files that could differ. Counts pinned to the
    // oracle's reconstruction of the same two versions from source.
    Q("txlog_version_diff",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_vdiff"))
        val c = rd(s, dir, "customer")
          .select(col("c_custkey"),
            round(col("c_acctbal") * 100).cast("long").as("cents"))
        store.overwrite("cust_vd", c)
        val v2 = c.filter(col("c_custkey") % 97 =!= 0)
          .withColumn("cents",
            when(col("c_custkey") % 10 === 0, col("cents") + 100)
              .otherwise(col("cents")))
          .unionByName(s.range(1, 6)
            .select((-col("id")).as("c_custkey"), lit(0L).as("cents")))
        store.overwrite("cust_vd", v2)
        val vs = store.versions("cust_vd")
        val a = store.readVersion("cust_vd", vs.head)
          .select(col("c_custkey"), col("cents").as("cents_a"))
        val b = store.readVersion("cust_vd", vs.last)
          .select(col("c_custkey"), col("cents").as("cents_b"))
        a.join(b, Seq("c_custkey"), "full_outer")
          .agg(
            sum(when(col("cents_a").isNull, 1L).otherwise(0L)).as("n_added"),
            sum(when(col("cents_b").isNull, 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("cents_a").isNotNull && col("cents_b").isNotNull &&
              col("cents_a") =!= col("cents_b"), 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("cents_a") === col("cents_b"), 1L).otherwise(0L))
              .as("n_unchanged"))
      },
      Some("""SELECT
             |  cast(5 AS BIGINT) AS n_added,
             |  (SELECT cast(count(*) AS BIGINT) FROM customer
             |   WHERE c_custkey % 97 = 0) AS n_removed,
             |  (SELECT cast(count(*) AS BIGINT) FROM customer
             |   WHERE c_custkey % 97 != 0 AND c_custkey % 10 = 0) AS n_changed,
             |  (SELECT cast(count(*) AS BIGINT) FROM customer
             |   WHERE c_custkey % 97 != 0 AND c_custkey % 10 != 0)
             |    AS n_unchanged""".stripMargin)),

    // CHECK CONSTRAINTS (Delta ALTER TABLE ADD CONSTRAINT semantics):
    // write-time data contracts on the transactional table. A constraint
    // the existing rows violate is REFUSED with its violation count; an
    // accepted constraint rejects every later violating batch atomically
    // (the table is unchanged after a rejected append — version and
    // row count pinned); NULL predicate results count as violations
    // (unknown is not valid). Enforcement costs one pass over each
    // BATCH, never the table — the write-side complement of the
    // read-side Expectations layer.
    Q("txlog_check_constraints",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_check"))
        val t = "cust_checked"
        val c = rd(s, dir, "customer").select(col("c_custkey"),
          col("c_acctbal"), col("c_mktsegment"))
        store.overwrite(t, c.filter(col("c_custkey") % 2 === 0))
        // refused: plenty of existing balances are below 5000
        val refused =
          try { store.addCheckConstraint(t, "bal_high", "c_acctbal >= 5000"); false }
          catch { case _: IllegalArgumentException => true }
        // accepted: balances are bounded and segment is never NULL
        store.addCheckConstraint(t, "bal_range",
          "c_acctbal >= -100000 AND c_acctbal <= 100000")
        store.addCheckConstraint(t, "seg_nn", "c_mktsegment IS NOT NULL")
        val vAfter = store.currentVersion(t).get
        // clean append passes
        store.append(t, c.filter(col("c_custkey") % 2 === 1))
        val nClean = store.read(t).count()
        // violating append (one NULL segment row) must reject atomically
        val rejected =
          try {
            store.append(t, s.range(1).select(lit(900001L).as("c_custkey"),
              lit(0.0).as("c_acctbal"),
              lit(null).cast("string").as("c_mktsegment")))
            false
          } catch { case _: IllegalArgumentException => true }
        val unchanged = store.read(t).count() == nClean
        s.range(1).select(
          lit(refused).as("bad_constraint_refused"),
          lit(store.manifest(t, vAfter).checks.size.toLong)
            .as("n_constraints"),
          lit(nClean).as("n_rows_after_clean_append"),
          lit(rejected).as("violating_append_rejected"),
          lit(unchanged).as("table_unchanged_after_reject"))
      },
      Some("""SELECT TRUE AS bad_constraint_refused,
             |  cast(2 AS BIGINT) AS n_constraints,
             |  (SELECT cast(count(*) AS BIGINT) FROM customer)
             |    AS n_rows_after_clean_append,
             |  TRUE AS violating_append_rejected,
             |  TRUE AS table_unchanged_after_reject""".stripMargin)),

    // SQL-SURFACE FILE SKIPPING: the FileIndex seam driver-proven. Eight
    // explicit one-file custkey-range batches, min/max stats on c_custkey,
    // a bloom on the UNCLUSTERED c_name — then every probe runs through
    // plain `spark.sql` over a registered view (no store API anywhere in
    // the read path), and the proof is the EXECUTED FileSourceScan's
    // numFiles metric: the range probe schedules exactly the 2 covering
    // files, the name point-probe survives only where the bloom admits it
    // (≤ half of 8, typically 1), the unfiltered scan reads all 8 — while
    // every returned VALUE stays oracle-exact. This is Delta/Iceberg's
    // metadata economy (stats + blooms consulted BEFORE task scheduling)
    // reached from the dbt-user surface: SELECT with a WHERE, nothing
    // else. At 100 TB the same probe schedules O(candidate files) tasks.
    Q("txlog_sql_pushdown",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_sqlpd"))
        val t = "cust_sql"
        val c = rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"),
            round(col("c_acctbal") * 100).cast("long").as("cents"))
        val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0)
        val step = (maxKey + 7) / 8
        store.overwrite(t, c.filter(col("c_custkey") <= step).coalesce(1))
        (1 until 8).foreach { i =>
          store.append(t, c.filter(col("c_custkey") > i * step &&
            col("c_custkey") <= (i + 1) * step).coalesce(1))
        }
        store.setStatsColumns(t, Seq("c_custkey"))
        store.setBloomColumn(t, "c_name")
        store.registerViews("sqlpd_")
        // executed-scan file count: AQE finalizes after the action
        def scanned(df: org.apache.spark.sql.DataFrame): Long = {
          df.collect()
          def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              scans(a.executedPlan)
            // materialized AQE stages hide their subtree from `children`
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              scans(q.plan)
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              Seq(f.metrics("numFiles").value)
            case other => other.children.flatMap(scans)
          }
          scans(df.queryExecution.executedPlan).sum
        }
        val rangeQ = s.sql(
          s"""SELECT count(*) AS n, sum(cents) AS cents FROM sqlpd_$t
             |WHERE c_custkey > ${2 * step} AND c_custkey <= ${4 * step}""".stripMargin)
        val nFilesRange = scanned(rangeQ)
        val probeName = c.filter(col("c_custkey") === step + 1)
          .select(col("c_name")).head().getString(0)
        val pointQ = s.sql(
          s"SELECT c_custkey, cents FROM sqlpd_$t WHERE c_name = '$probeName'")
        val nFilesPoint = scanned(pointQ)
        val fullQ = s.sql(s"SELECT count(*) AS n FROM sqlpd_$t")
        val nFilesFull = scanned(fullQ)
        val Array(rangeRow) = rangeQ.collect()
        val Array(pointRow) = pointQ.collect()
        s.range(1).select(
          lit(rangeRow.getLong(0)).as("n_range"),
          lit(rangeRow.getLong(1)).as("cents_range"),
          lit(nFilesRange).as("n_files_range"),
          lit(pointRow.getLong(0)).as("point_custkey"),
          lit(pointRow.getLong(1)).as("point_cents"),
          lit(nFilesPoint <= 4L).as("bloom_pruned_point"),
          lit(nFilesFull).as("n_files_full"),
          lit(fullQ.head().getLong(0)).as("n_full"))
      },
      Some("""WITH p AS (SELECT (max(c_custkey) + 7) // 8 AS step FROM customer)
             |SELECT
             |  (SELECT cast(count(*) AS BIGINT) FROM customer, p
             |   WHERE c_custkey > 2 * p.step AND c_custkey <= 4 * p.step)
             |    AS n_range,
             |  (SELECT cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |   FROM customer, p
             |   WHERE c_custkey > 2 * p.step AND c_custkey <= 4 * p.step)
             |    AS cents_range,
             |  cast(2 AS BIGINT) AS n_files_range,
             |  (SELECT cast(c_custkey AS BIGINT) FROM customer, p
             |   WHERE c_custkey = p.step + 1) AS point_custkey,
             |  (SELECT cast(round(c_acctbal * 100) AS BIGINT) FROM customer, p
             |   WHERE c_custkey = p.step + 1) AS point_cents,
             |  TRUE AS bloom_pruned_point,
             |  cast(8 AS BIGINT) AS n_files_full,
             |  (SELECT cast(count(*) AS BIGINT) FROM customer) AS n_full""".stripMargin)),

    // Z-ORDER SKIPPING MADE REAL on the transactional store: the
    // zorder_layout query diagnoses bucket tightness; this one PROVES
    // the file-skipping payoff. Two physical layouts of the same rows —
    // (a) 16 files by interleaved-bit z-bucket of (custkey, price), (b)
    // 16 files by custkey range alone — both with min/max stats on both
    // dims, probed by the planned scan's kept files (LogScan.keptFiles)
    // with a narrow range on EACH dim.
    // The z layout prunes BOTH probes to ≤ 5/16 files; the single-dim
    // sort answers the custkey probe with 1 file but must scan ALL 16
    // for the price probe. Deterministic: explicit per-bucket appends
    // (no range-partitioner sampling), counts pinned by the oracle.
    Q("txlog_zorder_skipping",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_zskip"))
        val o = rd(s, dir, "orders").select(
          (col("o_custkey") % 1024L).as("x"),
          (floor(col("o_totalprice")).cast("long") % 1024L).as("y"))
        // 4-bit z-value from the top 2 bits of each dim: 16 buckets
        val zb = (shiftleft(shiftright(col("x"), 8).bitwiseAND(lit(3L)), 0) +
          shiftleft(shiftright(col("y"), 8).bitwiseAND(lit(3L)), 2))
        // each layout is ONE clustered write job producing its 16
        // one-bucket files (round 6 ran 32 sequential append jobs here —
        // a full job + commit per file)
        store.appendClustered("z_layout", o, zb, 16)
        store.appendClustered("x_layout", o, shiftright(col("x"), 6), 16)
        Seq("z_layout", "x_layout").foreach { t =>
          store.setStatsColumns(t, Seq("x", "y"))
        }
        def probes(t: String): (Int, Int) = (
          rangeProbe(store, t, "x"), rangeProbe(store, t, "y"))
        val (zx, zy) = probes("z_layout")
        val (xx, xy) = probes("x_layout")
        s.range(1).select(
          lit(zx.toLong).as("z_files_for_x_probe"),
          lit(zy.toLong).as("z_files_for_y_probe"),
          lit(xx.toLong).as("sort_files_for_x_probe"),
          lit(xy.toLong).as("sort_files_for_y_probe"))
      },
      // SF-independent oracle: a bucket's file is a probe candidate iff
      // its OBSERVED per-file [min,max] of the probed column intersects
      // [100,120] — recomputed from the same bucket assignment the write
      // used (zb = top-2 bits of each dim; xb16 = x DIV 64), so empty
      // buckets at tiny SFs fall out exactly as missing files do
      Some("""WITH o AS (
             |  SELECT o_custkey % 1024 AS x,
             |    cast(floor(o_totalprice) AS BIGINT) % 1024 AS y
             |  FROM orders),
             |zf AS (
             |  SELECT (x // 256) % 4 + 4 * ((y // 256) % 4) AS zb,
             |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
             |  FROM o GROUP BY 1),
             |xf AS (
             |  SELECT x // 64 AS xb,
             |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
             |  FROM o GROUP BY 1)
             |SELECT
             |  (SELECT cast(count(*) AS BIGINT) FROM zf
             |   WHERE mxx >= 100 AND mnx <= 120) AS z_files_for_x_probe,
             |  (SELECT cast(count(*) AS BIGINT) FROM zf
             |   WHERE mxy >= 100 AND mny <= 120) AS z_files_for_y_probe,
             |  (SELECT cast(count(*) AS BIGINT) FROM xf
             |   WHERE mxx >= 100 AND mnx <= 120) AS sort_files_for_x_probe,
             |  (SELECT cast(count(*) AS BIGINT) FROM xf
             |   WHERE mxy >= 100 AND mny <= 120) AS sort_files_for_y_probe"""
        .stripMargin)),

    // DYNAMIC PARTITION PRUNING proof: fact hive-partitioned by month,
    // dim filtered on a DERIVED attribute (so the partition list is only
    // knowable at runtime) — Catalyst injects a dynamicpruning expression
    // into the fact scan's PartitionFilters, reusing the broadcast to
    // skip non-matching partitions entirely. At 100 TB this is the
    // difference between scanning 3 months and scanning 7 years when the
    // filter lives on the dimension. Plan-asserted like the other _proof
    // queries; values fingerprinted exactly.
    Q("dpp_proof",
      (s, dir) => {
        val wh = DvQueries.tmpWarehouse("graft_dpp")
        val o = rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            date_format(to_date(col("o_orderdate")), "yyyy-MM").as("mon"))
        o.write.mode("overwrite").partitionBy("mon").parquet(s"$wh/fact")
        val fact = s.read.parquet(s"$wh/fact")
        val dim = o.select(col("mon")).distinct()
          .withColumn("is_q1",
            substring(col("mon"), 6, 2).isin("01", "02", "03"))
        val joined = fact
          .join(broadcast(dim.filter(col("is_q1")).select("mon")), Seq("mon"))
        val plan = joined.queryExecution.executedPlan.toString
        val dppInjected = plan.contains("dynamicpruning")
        joined
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("total_cents"))
          .withColumn("dpp_injected", lit(dppInjected))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS dpp_injected
             |FROM orders WHERE month(o_orderdate) IN (1, 2, 3)""".stripMargin)),

    // WINDOW GROUP LIMIT proof: `row_number() ... WHERE rn <= k` — the
    // universal per-group top-k — is rewritten by Catalyst into
    // WindowGroupLimit, which keeps only k rows PER GROUP PER PARTITION
    // map-side before the window's shuffle+sort. At 100 TB that bounds
    // the exchange to k·groups·partitions rows instead of the whole
    // fact table — the optimization that makes rank-filter top-k viable
    // at scale. Plan-asserted (both the partial and final operators),
    // values fingerprinted exactly with a total order.
    Q("window_group_limit_proof",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(col("cents").desc, col("o_orderkey"))
        val q = rd(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
        val plan = q.queryExecution.executedPlan.toString
        val pushed = plan.contains("WindowGroupLimit")
        q.agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("cents_sum"),
            countDistinct(col("o_custkey")).as("n_customers"))
          .withColumn("group_limit_pushed", lit(pushed))
      },
      Some("""WITH ranked AS (
             |  SELECT o_custkey,
             |    cast(round(o_totalprice * 100) AS BIGINT) AS cents,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY round(o_totalprice * 100) DESC, o_orderkey)
             |      AS rn
             |  FROM orders)
             |SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cents) AS BIGINT) AS cents_sum,
             |  cast(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             |  TRUE AS group_limit_pushed
             |FROM ranked WHERE rn <= 2""".stripMargin)),

    // AQE SKEW-JOIN proof: a hot key holding ~60% of the fact side would
    // pin one reducer at 100 TB (the straggler that defines wall-clock).
    // AQE's runtime skew handling splits the oversized partition into
    // advisory-sized slices and replicates the matching build rows — no
    // manual salting. Thresholds are lowered for the proof (the defaults
    // are sized for 256 MB partitions; the fixture is MBs) and restored
    // in a finally; broadcast is disabled so the join actually shuffles.
    // The executed ADAPTIVE plan is asserted to contain the skew=true
    // sort-merge join; values are fingerprinted exactly.
    Q("aqe_skew_join_proof",
      (s, dir) => {
        val keep = Seq(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
          .map(k => k -> s.conf.getOption(k)).toMap
        try {
          s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
          // with few shuffle partitions the hot partition also absorbs its
          // share of uniform keys, so hot/median lands near the default
          // factor 5 — 2 keeps the proof about the MECHANISM, not the
          // fixture's partition count
          s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          val fact = rd(s, dir, "lineitem")
            .select(
              when(col("l_orderkey") % 10 < 6, lit(0L))
                .otherwise(col("l_orderkey") % 1000).as("k"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"))
            // a skewed REDUCE partition is split into per-MAPPER slices; a
            // single-file local fixture has one map task, which makes the
            // hot partition unsplittable no matter its size. A 100 TB scan
            // has thousands of mappers — recreate that precondition.
            .repartition(16)
          val dim = s.range(1000).select(col("id").as("k"),
            (col("id") % 7).as("grp"))
          val agg = fact.join(dim, Seq("k"))
            .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
              sum(col("grp") * col("cents")).as("weighted_sum"))
          // collect() (NOT head(): head wraps a limit in a separate
          // QueryExecution) drives THIS dataset's adaptive plan to its
          // final form, which is where the skew annotation lives
          val row = agg.collect()(0)
          val plan = agg.queryExecution.executedPlan.toString
          val skewHandled = plan.contains("skew=true") ||
            plan.contains("isSkewJoin=true")
          import s.implicits._
          Seq((row.getLong(0), row.getLong(1), row.getLong(2), skewHandled))
            .toDF("n_rows", "cents_sum", "weighted_sum", "skew_handled")
        } finally keep.foreach { case (k, v) =>
          v.fold(s.conf.unset(k))(s.conf.set(k, _))
        }
      },
      Some("""WITH fact AS (
             |  SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
             |              ELSE l_orderkey % 1000 END AS k,
             |         cast(round(l_extendedprice * 100) AS BIGINT) AS cents
             |  FROM lineitem),
             |dim AS (SELECT range AS k, range % 7 AS grp FROM range(0, 1000))
             |SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cents) AS BIGINT) AS cents_sum,
             |  cast(sum(grp * cents) AS BIGINT) AS weighted_sum,
             |  TRUE AS skew_handled
             |FROM fact JOIN dim USING (k)""".stripMargin)),

    // RESTORE (Delta RESTORE TABLE ... TO VERSION) driver-gated: the
    // fat-finger recovery drill — good data, a corrupting overwrite,
    // metadata-only restore (zero data files touched), then life
    // continues with a delta append on the restored state. Pinned: the
    // final contents equal good+delta exactly, the corrupt version stays
    // time-travelable (history preserved), and the restore added ONE
    // manifest (head advanced by one, not rewritten).
    Q("txlog_restore",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_restore"))
        val base = rd(s, dir, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        val good = base.filter(col("o_orderkey") % 2 === 0)
        store.append("t", good)                                       // v1
        store.overwrite("t",                                          // v2
          good.select(col("o_orderkey"), (col("cents") * 0).as("cents")))
        store.restore("t", 1L)                                        // v3
        store.append("t", base.filter(col("o_orderkey") % 2 === 1))   // v4
        val corruptStillTravelable = store.readVersion("t", 2L)
          .agg(sum(col("cents"))).head().getLong(0) == 0L
        store.read("t")
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
          .select(col("n_rows"), col("cents_sum"),
            lit(store.currentVersion("t").get).as("head_version"),
            lit(corruptStillTravelable).as("corrupt_travelable"))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents_sum,
             |  cast(4 AS BIGINT) AS head_version,
             |  TRUE AS corrupt_travelable
             |FROM orders""".stripMargin)),

    // VACUUM (retention + orphan reclaim) driver-gated: three appends
    // accumulate history, compact rewrites to one file (the three old
    // files now live only in retained manifests), vacuum with a 1-version
    // horizon deletes expired manifests AND the data files no retained
    // manifest references, plus a planted orphan batch directory (a
    // crashed writer's never-committed output) under a zero grace
    // window. Pinned: manifest/data-file counts before/after on the
    // actual filesystem, the head staying readable, and the exact-cents
    // content fingerprint surviving the cleanup untouched.
    Q("txlog_vacuum",
      (s, dir) => {
        val wh = DvQueries.tmpWarehouse("graft_vac")
        val store = new graft.runtime.TxLogTable(s, wh)
        val base = rd(s, dir, "orders").select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        (0 until 3).foreach { b =>
          store.append("t", base.filter(col("o_orderkey") % 3 === b)
            .coalesce(1))
        }
        store.compact("t", 1)
        // a crashed writer's orphan: a batch dir no manifest references
        val orphan = java.nio.file.Paths.get(wh, "t", "d-orphan-crashed")
        java.nio.file.Files.createDirectories(orphan)
        java.nio.file.Files.writeString(
          orphan.resolve("part-00000.parquet"), "not really parquet")
        def counts(): (Long, Long) = {
          val root = java.nio.file.Paths.get(wh, "t")
          val st = java.nio.file.Files.walk(root)
          try {
            val fs = st.iterator()
            var manifests = 0L; var data = 0L
            fs.forEachRemaining { p =>
              val n = p.getFileName.toString
              if (n.endsWith(".manifest")) manifests += 1
              else if (n.endsWith(".parquet")) data += 1
            }
            (manifests, data)
          } finally st.close()
        }
        val (mBefore, fBefore) = counts()
        store.vacuum("t", retainVersions = 1, orphanGraceMs = 0L)
        val (mAfter, fAfter) = counts()
        store.read("t")
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"))
          .select(col("n_rows"), col("cents_sum"),
            lit(mBefore).as("manifests_before"),
            lit(fBefore).as("data_files_before"),
            lit(mAfter).as("manifests_after"),
            lit(fAfter).as("data_files_after"))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents_sum,
             |  cast(4 AS BIGINT) AS manifests_before,
             |  cast(5 AS BIGINT) AS data_files_before,
             |  cast(1 AS BIGINT) AS manifests_after,
             |  cast(1 AS BIGINT) AS data_files_after
             |FROM orders""".stripMargin)),

    // OPTIMIZE ZORDER as a MAINTENANCE op (TxLogTable.compactZOrder —
    // Delta's `OPTIMIZE ... ZORDER BY`): the append-accumulated table is
    // REWRITTEN once into bit-interleaved z-order, after which probes on
    // EITHER dimension prune files. The z-curve's range-partition
    // boundaries come from sampling, so exact per-file counts can jitter
    // by ±1 — the oracle pins the INVARIANTS instead: the rewrite hits
    // the target file count, preserves every row (count + exact-cents
    // sums on both dims), and prunes both probes to a minority of files
    // (the pre-rewrite layout answers every probe with ALL files).
    Q("txlog_zorder_optimize",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_zopt"))
        val o = rd(s, dir, "orders").select(
          (col("o_custkey") % 1024L).as("x"),
          (floor(col("o_totalprice")).cast("long") % 1024L).as("y"))
        // unclustered arrival order: 4 row-hash batches in one job
        store.appendClustered("t", o, pmod(hash(col("x"), col("y")), lit(4)), 4)
        store.setStatsColumns("t", Seq("x", "y"))
        val preX = rangeProbe(store, "t", "x")
        val preY = rangeProbe(store, "t", "y")
        val (before, after) = store.compactZOrder("t", 16, Seq("x", "y"))
        store.setStatsColumns("t", Seq("x", "y"))
        val postX = rangeProbe(store, "t", "x")
        val postY = rangeProbe(store, "t", "y")
        store.read("t")
          .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("sum_x"),
            sum(col("y")).as("sum_y"))
          .select(col("n_rows"), col("sum_x"), col("sum_y"),
            lit(before.toLong).as("files_before"),
            lit(after.toLong).as("files_after"),
            lit(preX == before && preY == before)
              .as("unclustered_scans_all"),
            lit(postX <= after / 2 && postY <= after / 2)
              .as("zorder_prunes_both"))
      },
      Some("""WITH o AS (
             |  SELECT o_custkey % 1024 AS x,
             |    cast(floor(o_totalprice) AS BIGINT) % 1024 AS y
             |  FROM orders)
             |SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(x) AS BIGINT) AS sum_x,
             |  cast(sum(y) AS BIGINT) AS sum_y,
             |  cast(4 AS BIGINT) AS files_before,
             |  cast(16 AS BIGINT) AS files_after,
             |  TRUE AS unclustered_scans_all,
             |  TRUE AS zorder_prunes_both
             |FROM o""".stripMargin)),

    // PER-FILE BLOOM-FILTER SKIPPING for point lookups: min/max stats
    // prune ranges but are blind to equality probes into an UNCLUSTERED
    // table (every file's [min,max] spans the key domain — the scan
    // keeps everything). A per-file Bloom (Iceberg Puffin / Parquet
    // footer idea; ~20 bits/key, 4 probes ≈ 0.1% fp) prunes the probe to
    // the one file actually holding the key, layout-independent. 40
    // present keys + 40 absent keys probed: every present key found in
    // exactly its file's scan, absent keys scan (almost) nothing — the
    // counts are pinned by the oracle, so a silent fp-rate regression or
    // a false NEGATIVE (missed file ⇒ lost row) fails correctness.
    Q("txlog_bloom_skipping",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_bloomskip"))
        val t = "orders_bloom"
        val base = rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        // one clustered write job lays out the 4 key-sliced files
        store.appendClustered(t, base, col("o_orderkey") % 4, 4)
        store.setBloomColumn(t, "o_orderkey")
        val nFiles = store.files(t, store.currentVersion(t).get).size
        val present = (0 until 40).map(i => 13L + 371L * i)
        // negative keys are outside the TPC-H keyspace at EVERY sf
        // (1000000 + 97i collided at sf1, where orderkeys reach 6M)
        val absent = (0 until 40).map(i => -(13L + 97L * i))
        // a key's files are the kept files of its planned point lookup
        // (the scan's bloom channel; planning only, no Spark job); the
        // rows come from ONE IN read, whose scan keeps the union of those
        // files — a bloom filter has no false negatives, so every file
        // holding key k is kept for k
        def probe(keys: Seq[Long]): (Long, Long) = {
          val scanned = keys.map(k => graft.sources.LogScan.keptFiles(
            store.read(t).where(col("o_orderkey") === k)).size.toLong).sum
          (scanned, store.read(t).where(col("o_orderkey").isin(keys: _*)).count())
        }
        val (ps, pf) = probe(present)
        val (as_, af) = probe(absent)
        s.range(1).select(
          lit(nFiles.toLong).as("n_files"),
          lit(ps).as("present_files_scanned"),
          lit(pf).as("present_rows_found"),
          lit(as_).as("absent_files_scanned"),
          lit(af).as("absent_rows_found"))
      },
      // SF-independent oracle: the probed-key list is fixed, which keys
      // EXIST depends on the data — each present key is found in exactly
      // its own file (scanned == found at the filter's ~1e-4 fp rate);
      // absent keys scan nothing
      Some("""SELECT
             |  cast((SELECT count(DISTINCT o_orderkey % 4) FROM orders)
             |    AS BIGINT) AS n_files,
             |  (SELECT cast(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey IN (SELECT 13 + 371 * k FROM range(40) t(k)))
             |    AS present_files_scanned,
             |  (SELECT cast(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey IN (SELECT 13 + 371 * k FROM range(40) t(k)))
             |    AS present_rows_found,
             |  cast(0 AS BIGINT) AS absent_files_scanned,
             |  cast(0 AS BIGINT) AS absent_rows_found""".stripMargin)),

    // MERGE-ON-READ ROW-LEVEL DELETE (equality deletion vectors): the
    // modern lake-format delete path — `deleteWhere` writes ONE key file
    // and touches zero data files (file count pinned unchanged across
    // the delete as an oracle column), readers anti-join the tombstones,
    // a later append RE-INSERTS deleted keys visibly (tombstones are
    // scoped to the files live at delete time), time travel still sees
    // the pre-delete rows, and `compact` materializes the tombstones
    // away. At 100 TB this turns "purge these ids tonight" from a
    // petabyte rewrite into O(keys) + one manifest commit — the
    // rewrite-amplification escape hatch the COW merge path can't offer.
    Q("txlog_deletion_vectors",
      (s, dir) => {
        val store = new graft.runtime.TxLogTable(s,
          DvQueries.tmpWarehouse("graft_dv"))
        val t = "orders_dv"
        val base = rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .repartition(8)
        store.overwrite(t, base)
        val v1 = store.currentVersion(t).get
        val filesBefore = store.files(t, v1).size
        val nDeleted = store.deleteWhere(t, col("o_orderkey") % 7 === 0,
          Seq("o_orderkey"))
        val v2 = store.currentVersion(t).get
        val filesAfterDelete = store.files(t, v2).size
        val nAfterDelete = store.read(t).count()
        val nTimeTravel = store.readVersion(t, v1).count()
        // re-insert three previously-deleted keys — must be visible
        store.append(t, s.range(3)
          .select((col("id") * 7 + 7).as("o_orderkey"),
            org.apache.spark.sql.functions.lit("REINSERT").as("o_orderpriority"),
            org.apache.spark.sql.functions.lit(0L).as("cents")))
        val nReinsertVisible = store.read(t)
          .filter(col("o_orderpriority") === "REINSERT").count()
        val tombsBefore = store.manifest(t,
          store.currentVersion(t).get).edels.size
        store.compact(t, targetFiles = 2)
        val tombsAfter = store.manifest(t,
          store.currentVersion(t).get).edels.size
        val nAfterCompact = store.read(t).count()
        s.range(1).select(
          lit(nAfterDelete).as("n_after_delete"),
          lit(nDeleted).as("n_deleted_keys"),
          lit(nTimeTravel).as("n_time_travel_rows"),
          lit(filesAfterDelete == filesBefore).as("delete_rewrote_nothing"),
          lit(nReinsertVisible).as("n_reinserted_visible"),
          lit(tombsBefore).cast("long").as("n_tombstones_before_compact"),
          lit(tombsAfter).cast("long").as("n_tombstones_after_compact"),
          lit(nAfterCompact).as("n_after_compact"))
      },
      Some("""SELECT
             |  (SELECT cast(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey % 7 <> 0) AS n_after_delete,
             |  (SELECT cast(count(DISTINCT o_orderkey) AS BIGINT) FROM orders
             |   WHERE o_orderkey % 7 = 0) AS n_deleted_keys,
             |  (SELECT cast(count(*) AS BIGINT) FROM orders)
             |    AS n_time_travel_rows,
             |  TRUE AS delete_rewrote_nothing,
             |  cast(3 AS BIGINT) AS n_reinserted_visible,
             |  cast(1 AS BIGINT) AS n_tombstones_before_compact,
             |  cast(0 AS BIGINT) AS n_tombstones_after_compact,
             |  (SELECT cast(count(*) AS BIGINT) FROM orders
             |   WHERE o_orderkey % 7 <> 0) + 3 AS n_after_compact""".stripMargin)),

    // DELETE-AWARE AGGREGATE IVM: the retract/insert generalization of
    // `incremental_agg_maintain` (which is additive-only) and
    // `ivm_join_delta` (insert-only). The maintained per-priority
    // aggregate is updated from a Cdc.diff CHANGE FEED alone — U rows
    // decompose into a retraction of the old image + an insertion of the
    // new image (so even a group-key change maintains correctly), D rows
    // retract, I rows insert; one bounded full-outer fold against the
    // current MV, groups whose count hits 0 drop out. Cost per refresh:
    // O(changes) + O(groups), never O(table) — the shape that keeps a
    // 100 TB mart's aggregates fresh from last night's delta. The
    // maintained MV must equal the one-shot aggregate of v2 (oracle),
    // with the feed's op counts pinned alongside.
    Q("ivm_cdc_agg",
      (s, dir) => {
        val v1 = rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("cents",
            when(col("o_orderkey") % 10 === 0, col("cents") + 100)
              .otherwise(col("cents")))
          .unionByName(s.range(1, 6)
            .select((-col("id")).as("o_orderkey"),
              lit("1-URGENT").as("o_orderpriority"), lit(0L).as("cents")))
        val mv1 = v1.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val feed = graft.runtime.Cdc.diff(v1, v2, Seq("o_orderkey"))
          .localCheckpoint()
        // retract old images of D/U, insert new images of I/U
        val retract = feed.filter(col("op").isin("D", "U"))
          .select(col("old_o_orderpriority").as("o_orderpriority"),
            lit(-1L).as("dn"), (-col("old_cents")).as("dc"))
        val insert = feed.filter(col("op").isin("I", "U"))
          .select(col("new_o_orderpriority").as("o_orderpriority"),
            lit(1L).as("dn"), col("new_cents").as("dc"))
        val delta = retract.unionByName(insert)
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
        val mv2 = mv1
          .join(delta, Seq("o_orderpriority"), "full_outer")
          .select(col("o_orderpriority"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("cents"))
          .filter(col("n") > 0)
        val ops = feed.groupBy().agg(
          sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_feed_i"),
          sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_feed_u"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_feed_d"))
        mv2.crossJoin(broadcast(ops))
          .select(col("o_orderpriority"), col("n"),
            round(col("cents").cast("double") / 100.0, 2).as("total_price"),
            col("n_feed_i"), col("n_feed_u"), col("n_feed_d"))
      },
      Some("""WITH v2 AS (
             |  SELECT o_orderkey, o_orderpriority,
             |    cast(round(o_totalprice * 100) AS BIGINT)
             |      + CASE WHEN o_orderkey % 10 = 0 THEN 100 ELSE 0 END AS cents
             |  FROM orders WHERE o_orderkey % 97 <> 0
             |  UNION ALL
             |  SELECT -i, '1-URGENT', 0
             |  FROM generate_series(1, 5) AS g(i)),
             |ops AS (
             |  SELECT cast(5 AS BIGINT) AS n_feed_i,
             |    (SELECT cast(count(*) AS BIGINT) FROM orders
             |     WHERE o_orderkey % 97 <> 0 AND o_orderkey % 10 = 0)
             |      AS n_feed_u,
             |    (SELECT cast(count(*) AS BIGINT) FROM orders
             |     WHERE o_orderkey % 97 = 0) AS n_feed_d)
             |SELECT v2.o_orderpriority, cast(count(*) AS BIGINT) AS n,
             |  round(cast(sum(cents) AS double) / 100.0, 2) AS total_price,
             |  ops.n_feed_i, ops.n_feed_u, ops.n_feed_d
             |FROM v2, ops
             |GROUP BY 1, ops.n_feed_i, ops.n_feed_u, ops.n_feed_d""".stripMargin)),

    // CALENDAR DIMENSION GENERATION: the warehouse date spine (7 years
    // daily) GENERATED, never loaded — year/quarter/month, day-of-week
    // from explicit epoch-day arithmetic (engine dayofweek conventions
    // differ; arithmetic doesn't), weekend flags, month boundaries. At
    // any scale this is O(days) — the dimension every mart joins
    // against, produced by sequence() + projections with no shuffle
    // at all.
    Q("calendar_dim",
      (s, dir) => {
        s.range(1).select(explode(expr(
            "sequence(DATE '1995-01-01', DATE '2001-12-31', interval 1 day)"))
            .as("day"))
          .select(col("day"),
            year(col("day")).as("yr"),
            quarter(col("day")).as("qtr"),
            month(col("day")).as("mon"),
            // 1970-01-01 was a Thursday: (epochDay + 4) % 7 → 0=Sunday
            expr("(datediff(day, DATE '1970-01-01') + 4) % 7").as("dow0"),
            (expr("(datediff(day, DATE '1970-01-01') + 4) % 7") === 0 ||
              expr("(datediff(day, DATE '1970-01-01') + 4) % 7") === 6)
              .as("is_weekend"),
            (col("day") === last_day(col("day"))).as("is_month_end"))
      },
      Some("""SELECT cast(u.d AS DATE) AS day,
             |  cast(year(u.d) AS INT) AS yr,
             |  cast(quarter(u.d) AS INT) AS qtr,
             |  cast(month(u.d) AS INT) AS mon,
             |  cast((datediff('day', DATE '1970-01-01', cast(u.d AS DATE)) + 4) % 7
             |    AS INT) AS dow0,
             |  ((datediff('day', DATE '1970-01-01', cast(u.d AS DATE)) + 4) % 7 = 0
             |   OR (datediff('day', DATE '1970-01-01', cast(u.d AS DATE)) + 4) % 7 = 6)
             |    AS is_weekend,
             |  cast(u.d AS DATE) = last_day(cast(u.d AS DATE)) AS is_month_end
             |FROM (SELECT unnest(generate_series(DATE '1995-01-01',
             |  DATE '2001-12-31', INTERVAL 1 DAY)) AS d) u""".stripMargin))
  )
}
