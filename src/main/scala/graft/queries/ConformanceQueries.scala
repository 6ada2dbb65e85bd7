package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-surface conformance: the complex-type (array/map) processing
  * and NULL-semantics corners where SQL engines classically diverge.
  * Each query exercises the Spark surface (higher-order functions, map
  * aggregation, null-safe joins) and is pinned to DuckDB's answer for
  * the same relational content — if the engines disagree on semantics,
  * the row goes red.
  */
object ConformanceQueries {

  private def rd(s: SparkSession, dir: String, t: String): DataFrame =
    s.read.parquet(s"$dir/$t.parquet")

  /** Shared oracle for delta_merge_clauses / iceberg_merge_clauses —
    * the exact final state of the 4-clause MERGE: matched evens get the
    * doubled price, unsourced 5-LOW rows are deleted, other unsourced
    * rows go STALE, cheap shifted keys are inserted. */
  private val mergeClausesOracle: String =
    """WITH final AS (
      |  SELECT o_totalprice * 2 AS o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_totalprice, 'STALE'
      |  FROM orders WHERE o_orderkey % 2 = 1 AND o_orderpriority <> '5-LOW'
      |  UNION ALL
      |  SELECT o_totalprice, o_orderpriority
      |  FROM orders WHERE o_orderkey % 10 = 1 AND o_totalprice < 100000)
      |SELECT o_orderpriority AS priority,
      |  cast(count(*) AS BIGINT) AS n_orders,
      |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM final GROUP BY 1""".stripMargin

  val all: Seq[Q] = Seq(

    // ARRAY HIGHER-ORDER FUNCTIONS: each order's lineitems collected to
    // ONE ordered array, then every metric computed inside the array via
    // codegen'd HOFs — aggregate() for the rolling sum, exists() for the
    // flag scan — never a second shuffle or a re-join. The shape matters
    // at 100 TB: collect_list keeps the per-key payload in the one
    // groupBy, and all downstream "per-group loops" are per-row
    // expressions. The oracle computes the same metrics relationally, so
    // the HOF arithmetic is pinned to plain SQL aggregation.
    Q("array_hof_metrics",
      (s, dir) => {
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"),
            struct(col("l_linenumber"),
              round(col("l_extendedprice") * 100).cast("long").as("cents"),
              (col("l_returnflag") === "R").as("ret")).as("it"))
          .groupBy("l_orderkey")
          .agg(sort_array(collect_list(col("it"))).as("items"))
          .select(col("l_orderkey"),
            size(col("items")).as("n_items"),
            expr("aggregate(items, CAST(0 AS BIGINT), (acc, x) -> acc + x.cents)")
              .as("gross_cents"),
            round(expr("aggregate(items, CAST(0 AS BIGINT), " +
              "(acc, x) -> CASE WHEN x.cents > acc THEN x.cents ELSE acc END)")
              .cast("double") /
              expr("aggregate(items, CAST(0 AS BIGINT), (acc, x) -> acc + x.cents)"),
              4).as("top_share"),
            expr("exists(items, x -> x.ret)").as("any_returned"))
      },
      Some("""SELECT l_orderkey,
             |  cast(count(*) AS INT) AS n_items,
             |  cast(sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |    AS gross_cents,
             |  round(cast(max(cast(round(l_extendedprice * 100) AS BIGINT)) AS double)
             |    / sum(cast(round(l_extendedprice * 100) AS BIGINT)), 4) AS top_share,
             |  bool_or(l_returnflag = 'R') AS any_returned
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // MAP-TYPE AGGREGATION: per user the event_type→count MAP is built
    // with map_from_entries after ONE pre-aggregation, then every output
    // is a map lookup/fold — element_at for point reads,
    // aggregate(map_values) for the total — keeping the per-user
    // profile a single nested value, the layout a 100 TB feature store
    // serves (one row per entity, nested features inside). Scalars only
    // leave the query, pinned to the relational answer.
    Q("map_type_roundtrip",
      (s, dir) => {
        rd(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .groupBy("user_id")
          .agg(map_from_entries(
            sort_array(collect_list(struct(col("event_type"), col("n")))))
            .as("profile"))
          .select(col("user_id"),
            size(col("profile")).as("n_types"),
            coalesce(element_at(col("profile"), "click"), lit(0L)).as("clicks"),
            round(coalesce(element_at(col("profile"), "purchase"), lit(0L))
              .cast("double") /
              expr("aggregate(map_values(profile), CAST(0 AS BIGINT), (a, x) -> a + x)"),
              4).as("purchase_share"))
      },
      Some("""SELECT user_id,
             |  cast(count(DISTINCT event_type) AS INT) AS n_types,
             |  cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             |    AS clicks,
             |  round(cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |    AS double) / count(*), 4) AS purchase_share
             |FROM events GROUP BY 1""".stripMargin)),

    // NULL-SEMANTICS CONFORMANCE — the corners engines classically get
    // wrong, pinned cross-engine in one row: `=` drops NULL keys while
    // null-safe equality (`<=>` / IS NOT DISTINCT FROM) matches them;
    // NOT IN over a set CONTAINING a NULL is three-valued-logic empty
    // while NOT EXISTS still works; DISTINCT counts one NULL bucket;
    // GROUP BY puts all NULLs in one group. The vault's anti-join
    // loaders (J1/J2) rely on exactly these rules — this query keeps
    // both engines honest about them.
    Q("null_semantics_conformance",
      (s, dir) => {
        val n = rd(s, dir, "nation")
          .select(col("n_nationkey").as("k"),
            when(col("n_nationkey") % 5 === 0, lit(null).cast("long"))
              .otherwise(col("n_regionkey")).as("rk"))
        val a = n.select(col("k").as("ka"), col("rk").as("ra"))
        val b = n.select(col("k").as("kb"), col("rk").as("rb"))
        val eqJoin = a.join(b, col("ra") === col("rb"))
          .agg(count(lit(1)).as("c")).select(col("c").as("eq_join_rows"))
        val nsJoin = a.join(b, col("ra") <=> col("rb"))
          .agg(count(lit(1)).as("c")).select(col("c").as("null_safe_join_rows"))
        // NOT IN (set with NULL) via SQL to get true three-valued logic
        n.createOrReplaceTempView("graft_null_conf")
        val s2 = n.sparkSession
        val notInRows = s2.sql(
          """SELECT count(*) AS c FROM graft_null_conf
            |WHERE k NOT IN (SELECT rk FROM graft_null_conf)""".stripMargin)
          .select(col("c").as("not_in_with_null_rows"))
        val notExistsRows = s2.sql(
          """SELECT count(*) AS c FROM graft_null_conf t
            |WHERE NOT EXISTS (SELECT 1 FROM graft_null_conf u WHERE u.rk = t.k)""".stripMargin)
          .select(col("c").as("not_exists_rows"))
        val distinctNulls = n.agg(
          countDistinct(col("rk")).as("count_distinct_non_null"))
        val groups = n.groupBy("rk").agg(count(lit(1)).as("cnt"))
          .agg(count(lit(1)).as("group_by_buckets"),
            sum(when(col("rk").isNull, col("cnt")).otherwise(0L)).as("null_bucket_rows"))
        eqJoin.crossJoin(broadcast(nsJoin))
          .crossJoin(broadcast(notInRows))
          .crossJoin(broadcast(notExistsRows))
          .crossJoin(broadcast(distinctNulls))
          .crossJoin(broadcast(groups))
      },
      Some("""WITH n AS (
             |  SELECT n_nationkey AS k,
             |    CASE WHEN n_nationkey % 5 = 0 THEN NULL
             |         ELSE n_regionkey END AS rk
             |  FROM nation)
             |SELECT
             |  (SELECT cast(count(*) AS BIGINT) FROM n a JOIN n b ON a.rk = b.rk)
             |    AS eq_join_rows,
             |  (SELECT cast(count(*) AS BIGINT) FROM n a JOIN n b
             |     ON a.rk IS NOT DISTINCT FROM b.rk) AS null_safe_join_rows,
             |  (SELECT cast(count(*) AS BIGINT) FROM n
             |     WHERE k NOT IN (SELECT rk FROM n)) AS not_in_with_null_rows,
             |  (SELECT cast(count(*) AS BIGINT) FROM n t
             |     WHERE NOT EXISTS (SELECT 1 FROM n u WHERE u.rk = t.k))
             |    AS not_exists_rows,
             |  (SELECT cast(count(DISTINCT rk) AS BIGINT) FROM n)
             |    AS count_distinct_non_null,
             |  (SELECT cast(count(*) AS BIGINT) FROM
             |     (SELECT rk FROM n GROUP BY rk)) AS group_by_buckets,
             |  (SELECT cast(count(*) AS BIGINT) FROM n WHERE rk IS NULL)
             |    AS null_bucket_rows""".stripMargin)),

    // TYPED AGGREGATOR (Dataset-native UDAF): geometric mean of order
    // value per market segment through a case-class Dataset and a
    // custom Aggregator whose (Σ ln x, n) buffer merges associatively —
    // Spark runs it with map-side partial aggregation exactly like a
    // built-in, and the typed fold can enforce domain invariants the
    // Column API can't. Pinned to the relational exp(avg(ln x)).
    Q("typed_geomean_agg",
      (s, dir) => {
        import s.implicits._
        import graft.ops.TypedOps
        val ds = rd(s, dir, "orders")
          .join(rd(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            col("o_totalprice").as("price"))
          .as[TypedOps.SegPrice]
        ds.groupByKey(_.segment)
          .agg(TypedOps.GeoMean.toColumn.name("geomean"))
          .select(col("key").as("segment"),
            round(col("geomean"), 2).as("geomean_price"))
      },
      Some("""SELECT c.c_mktsegment AS segment,
             |  round(exp(avg(ln(o.o_totalprice))), 2) AS geomean_price
             |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             |GROUP BY 1""".stripMargin)),

    // TYPED flatMapGroups: longest consecutive-day activity streak per
    // user — genuinely imperative per-group logic (a linear scan over
    // the user's sorted day list) expressed through groupByKey on a
    // case-class Dataset. The input is pre-DISTINCTed to (user, day), so
    // group state is bounded by calendar span, not event volume. The
    // oracle recomputes the streak relationally via gaps-and-islands.
    Q("typed_longest_streak",
      (s, dir) => {
        import s.implicits._
        import graft.ops.TypedOps
        rd(s, dir, "events")
          .select(col("user_id"),
            datediff(to_date(col("ts")), lit("2024-01-01")).as("epoch_day"))
          .distinct()
          .map(r => TypedOps.ActiveDay(r.getLong(0), r.getInt(1)))
          .groupByKey(_.userId)
          .mapGroups((k, it) => TypedOps.longestStreak(k, it.map(_.epochDay)))
          .toDF()
      },
      Some("""WITH d AS (
             |  SELECT DISTINCT user_id,
             |    datediff('day', DATE '2024-01-01', cast(ts AS DATE)) AS ed
             |  FROM events),
             |r AS (SELECT user_id, ed, row_number() OVER
             |        (PARTITION BY user_id ORDER BY ed) AS rn FROM d),
             |isl AS (SELECT user_id, cast(count(*) AS INT) AS len
             |        FROM r GROUP BY user_id, ed - rn)
             |SELECT i.user_id, cast(max(i.len) AS INT) AS longest_streak,
             |  (SELECT cast(count(*) AS INT) FROM d WHERE d.user_id = i.user_id)
             |    AS n_active_days
             |FROM isl i GROUP BY i.user_id""".stripMargin)),

    // RECURSIVE CTE (Spark 4.x WITH RECURSIVE): every key climbs a
    // synthetic binary-tree hierarchy (parent = k div 2) to the root,
    // and the recursion depth histogram is emitted. The iteration count
    // is O(log maxKey) — recursion depth, not data volume, bounds the
    // plan — the shape that makes hierarchy walks feasible at 100 TB.
    // DuckDB runs the semantically identical recursion as the oracle.
    Q("recursive_cte_hierarchy",
      (s, dir) => {
        rd(s, dir, "customer").select(col("c_custkey"))
          .createOrReplaceTempView("graft_rec_keys")
        // the recursion emits ~log2(maxKey) rows PER KEY — ~2.6M at sf1 —
        // and Spark's cteRecursionRowLimit safety default (1M) is sized
        // for accidental infinite recursion, not a keyset walk. Size the
        // knob to the workload (keys × 64-bit max depth) and restore it;
        // found by the sf1 scale drill (BENCHNOTES r8).
        val keep = s.conf.getOption("spark.sql.cteRecursionRowLimit")
        s.conf.set("spark.sql.cteRecursionRowLimit", "2000000000")
        try {
          s.sql("""WITH RECURSIVE anc AS (
                  |  SELECT c_custkey AS k, c_custkey AS cur, 0 AS depth
                  |  FROM graft_rec_keys
                  |  UNION ALL
                  |  SELECT k, cur DIV 2, depth + 1 FROM anc WHERE cur > 1)
                  |SELECT depth, count(*) AS n_keys
                  |FROM anc WHERE cur = 1
                  |GROUP BY depth""".stripMargin)
            .select(col("depth"), col("n_keys")).localCheckpoint()
        } finally keep.fold(s.conf.unset("spark.sql.cteRecursionRowLimit"))(
          s.conf.set("spark.sql.cteRecursionRowLimit", _))
      },
      Some("""WITH RECURSIVE anc AS (
             |  SELECT c_custkey AS k, c_custkey AS cur, 0 AS depth FROM customer
             |  UNION ALL
             |  SELECT k, cur // 2, depth + 1 FROM anc WHERE cur > 1)
             |SELECT cast(depth AS INT) AS depth,
             |  cast(count(*) AS BIGINT) AS n_keys
             |FROM anc WHERE cur = 1 GROUP BY depth""".stripMargin)),

    // SCHEMA EVOLUTION via mergeSchema: batch 1 lands WITHOUT the
    // event_type column, batch 2 WITH it; one mergeSchema read serves
    // the union schema, nulling the missing column for old files — the
    // append-only schema-widening contract a long-lived 100 TB corpus
    // needs (no rewrite of historical files). Null accounting per batch
    // is pinned to the source-side oracle.
    Q("schema_evolution_merge",
      (s, dir) => {
        val base = DvQueries.tmpWarehouse("graft_schevo") + "/t"
        val e = rd(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            round(col("value") * 100).cast("long").as("cents"),
            col("event_type"), to_date(col("ts").cast("timestamp")).as("day"))
        e.filter(col("day") <= "2024-01-10")
          .select("event_id", "user_id", "cents")
          .write.mode("overwrite").parquet(s"$base/batch=1")
        e.filter(col("day") > "2024-01-10")
          .select("event_id", "user_id", "cents", "event_type")
          .write.mode("overwrite").parquet(s"$base/batch=2")
        s.read.option("mergeSchema", "true").parquet(base)
          .groupBy("batch")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("n_null_type"),
            countDistinct(col("event_type")).as("n_types"),
            sum("cents").as("cents"))
      },
      Some("""SELECT cast(1 AS INT) AS batch,
             |  cast(count(*) AS BIGINT) AS n_rows,
             |  cast(count(*) AS BIGINT) AS n_null_type,
             |  cast(0 AS BIGINT) AS n_types,
             |  cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM events WHERE cast(ts AS DATE) <= DATE '2024-01-10'
             |UNION ALL
             |SELECT cast(2 AS INT), cast(count(*) AS BIGINT),
             |  cast(0 AS BIGINT),
             |  cast(count(DISTINCT event_type) AS BIGINT),
             |  cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT)
             |FROM events WHERE cast(ts AS DATE) > DATE '2024-01-10'""".stripMargin)),

    // CSV + JSON SOURCE ROUNDTRIP: the same frame writes through both
    // text formats and reads back with an EXPLICIT schema (never
    // inferSchema — a schema inference pass is a full extra scan at
    // 100 TB), then proves value preservation against the parquet
    // source. Doubles survive because both writers emit the shortest
    // round-trippable decimal; timestamps travel as explicit micros.
    Q("csv_json_source_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val base = DvQueries.tmpWarehouse("graft_textsrc")
        val e = rd(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("user_id", LongType),
          StructField("event_type", StringType), StructField("value", DoubleType),
          StructField("ts_us", LongType)))
        e.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
        e.write.mode("overwrite").json(s"$base/json")
        def agg(df: org.apache.spark.sql.DataFrame, fmt: String) =
          df.agg(count(lit(1)).as("n_rows"),
            countDistinct("user_id").as("n_users"),
            sum(round(col("value") * 100).cast("long")).as("cents"),
            max("ts_us").as("max_ts_us"))
            .withColumn("format", lit(fmt))
        agg(s.read.option("header", "true").schema(schema).csv(s"$base/csv"), "csv")
          .unionByName(agg(s.read.schema(schema).json(s"$base/json"), "json"))
      },
      Some("""SELECT f.format, cast(count(*) AS BIGINT) AS n_rows,
             |  cast(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             |  cast(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
             |FROM events CROSS JOIN (SELECT 'csv' AS format
             |  UNION ALL SELECT 'json') f
             |GROUP BY 1""".stripMargin)),

    // OFFSET PAGINATION (O-family completion): ORDER BY ... LIMIT k
    // OFFSET n — page 3 of the balance leaderboard under a TOTAL order
    // (balance cents desc, custkey tiebreak), so the page content is
    // deterministic in both engines. Spark supports OFFSET since 3.4;
    // the pinned rows prove limit+offset compose with the sort rather
    // than sampling it.
    Q("offset_pagination",
      (s, dir) => {
        rd(s, dir, "customer")
          .select(col("c_custkey"),
            round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
          .createOrReplaceTempView("graft_page_cust")
        s.sql("""SELECT c_custkey, bal_cents FROM graft_page_cust
                |ORDER BY bal_cents DESC, c_custkey
                |LIMIT 20 OFFSET 40""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  cast(round(c_acctbal * 100) AS BIGINT) AS bal_cents
             |FROM customer
             |ORDER BY bal_cents DESC, c_custkey
             |LIMIT 20 OFFSET 40""".stripMargin)),

    // NULL ORDERING conformance: engine DEFAULTS diverge (Spark sorts
    // nulls first ascending / last descending, DuckDB nulls last) — so
    // portable sorts must spell NULLS FIRST/LAST explicitly, and this
    // pins that the EXPLICIT forms agree: a nullable key ranked under
    // both explicit orderings, plus min/max (which ignore nulls in both
    // engines) beside order-based first/last picks.
    Q("null_ordering_conformance",
      (s, dir) => {
        rd(s, dir, "nation")
          .select(col("n_nationkey").as("k"),
            when(col("n_nationkey") % 5 === 0, lit(null).cast("long"))
              .otherwise(col("n_regionkey")).as("rk"))
          .createOrReplaceTempView("graft_nullord")
        // LIMIT 1000 over the 25-row dimension is a no-op that leaves a
        // plan-visible bound for the global-window audit
        s.sql("""SELECT k, rk,
                |  row_number() OVER (ORDER BY rk ASC NULLS FIRST, k)
                |    AS rn_nulls_first,
                |  row_number() OVER (ORDER BY rk DESC NULLS LAST, k)
                |    AS rn_nulls_last
                |FROM (SELECT * FROM graft_nullord LIMIT 1000)""".stripMargin)
      },
      Some("""WITH n AS (
             |  SELECT n_nationkey AS k,
             |    CASE WHEN n_nationkey % 5 = 0 THEN NULL
             |         ELSE n_regionkey END AS rk
             |  FROM nation LIMIT 1000)
             |SELECT k, rk,
             |  row_number() OVER (ORDER BY rk ASC NULLS FIRST, k)
             |    AS rn_nulls_first,
             |  row_number() OVER (ORDER BY rk DESC NULLS LAST, k)
             |    AS rn_nulls_last
             |FROM n""".stripMargin)),

    // ORC SOURCE ROUNDTRIP: the csv/json pattern extended to the other
    // columnar format Spark ships natively — events written as
    // zlib-compressed ORC and read back must carry the identical
    // fingerprint the oracle computes from the parquet truth (DuckDB
    // cannot read ORC, so parity-through-fingerprint IS the check).
    Q("orc_source_roundtrip",
      (s, dir) => {
        val base = DvQueries.tmpWarehouse("graft_orcsrc")
        rd(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
          .write.mode("overwrite").option("compression", "zlib")
          .orc(s"$base/orc")
        s.read.orc(s"$base/orc")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("user_id").as("n_users"),
            sum(round(col("value") * 100).cast("long")).as("cents"),
            max("ts_us").as("max_ts_us"))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             |  cast(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
             |FROM events""".stripMargin)),

    // DELTA LAKE READ INTEROP: a real corpus usually already sits in an
    // open table format; this row proves the engine reads one AS a table
    // — schema from the log, tombstoned files excluded, partition
    // predicates pruned at the FileIndex (sources/DeltaRead, open-spec
    // _delta_log replay per delta-io PROTOCOL.md; no Delta library). The
    // fixture is a 2-commit table the row itself authors from `orders`:
    // commit 0 adds one even-orderkey file per o_orderpriority partition,
    // commit 1 adds odd-orderkey files for URGENT/LOW and REMOVES the
    // even 5-LOW file — so a reader that misses the remove, misses the
    // second commit, or scans dead files goes red on values, and the
    // pinned file counts go red if pruning or replay miscounts.
    Q("delta_read_interop",
      (s, dir) => {
        import graft.sources.{DeltaFixture, DeltaRead, LogScan}
        val wh = DvQueries.tmpWarehouse("graft_delta_interop")
        val tbl = s"$wh/orders_delta"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val partCols = Seq("o_orderpriority")
        val c0 = DeltaFixture.commit(s, tbl, o.schema, partCols, 0L,
          prios.map(p => Map("o_orderpriority" -> p) ->
            o.filter(col("o_orderpriority") === p && col("o_orderkey") % 2 === 0)))
        DeltaFixture.commit(s, tbl, o.schema, partCols, 1L,
          Seq("1-URGENT", "5-LOW").map(p => Map("o_orderpriority" -> p) ->
            o.filter(col("o_orderpriority") === p && col("o_orderkey") % 2 === 1)),
          removes = Seq(c0(prios.indexOf("5-LOW"))))
        val snap = DeltaRead.snapshot(tbl)
        val df = DeltaRead.read(s, tbl)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        // the files the planned scan keeps, pinned as a count the oracle
        // hardcodes
        val scanned = LogScan.keptFiles(df).size
        // seam proof: the predicate must reach the scan as a PARTITION
        // filter over the custom index, not a post-scan row filter
        val plan = df.queryExecution.executedPlan.toString
        val pruningPlanned = plan.contains("Location: LogFileIndex") &&
          "PartitionFilters: \\[[^\\]]*1-URGENT".r.findFirstIn(plan).nonEmpty &&
          plan.contains("DataFilters: []")
        df.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("files_live", lit(snap.files.size))
          .withColumn("files_scanned", lit(scanned))
          .withColumn("partition_pruned", lit(pruningPlanned))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  6 AS files_live, 3 AS files_scanned, TRUE AS partition_pruned
             |FROM orders
             |WHERE o_orderpriority = '1-URGENT'
             |   OR (o_orderpriority = '5-LOW' AND o_orderkey % 2 = 1)
             |GROUP BY 1""".stripMargin)),

    // DELTA WRITE ROUNDTRIP: the distributed write-path complement of the
    // read interop (sources/DeltaWrite — one partitionBy write per commit,
    // protocol-conformant log, append / overwrite / dynamic-partition
    // overwrite). The row authors a 3-commit table from `orders` with the
    // write path itself, checkpoints mid-history, and reads the head back
    // through DeltaRead: v0 appends even orderkeys across all priorities,
    // v1 appends odd orderkeys for URGENT/LOW, [checkpoint], v2
    // dynamic-overwrites the 2-HIGH partition with the %3==0 subset. The
    // oracle recomputes that final state straight from `orders`, so a
    // write path that drops a commit, mis-tombstones on the partition
    // overwrite, or mis-encodes partition values (`4-NOT SPECIFIED` has a
    // space) goes red on values; the booleans pin checkpoint resume,
    // FileIndex pruning, and kept-files/actual-scan agreement
    // (file COUNTS aren't pinned — they vary with input split counts).
    Q("delta_write_roundtrip",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite, LogScan}
        val wh = DvQueries.tmpWarehouse("graft_delta_write")
        val tbl = s"$wh/orders_delta"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val v0 = DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl,
          Seq("o_orderpriority"))
        val v1 = DeltaWrite.write(
          o.filter(col("o_orderkey") % 2 === 1 &&
            col("o_orderpriority").isin("1-URGENT", "5-LOW")), tbl)
        DeltaWrite.checkpoint(s, tbl)
        val v2 = DeltaWrite.write(
          o.filter(col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 3 === 0),
          tbl, mode = "overwritePartitions")
        val snap = DeltaRead.snapshot(tbl)
        val versionsOk = v0 == 0L && v1 == 1L && v2 == 2L && snap.version == 2L
        // the files the planned scan keeps vs the files its rows come from
        val filtered = DeltaRead.read(s, tbl)
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        val plan = filtered.queryExecution.executedPlan.toString
        val pruningPlanned = plan.contains("Location: LogFileIndex") &&
          "PartitionFilters: \\[[^\\]]*1-URGENT".r.findFirstIn(plan).nonEmpty &&
          plan.contains("DataFilters: []")
        val expectFiles = LogScan.keptFiles(filtered).size.toLong
        val scannedFiles = filtered.select(input_file_name()).distinct().count()
        DeltaRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("versions_ok", lit(versionsOk))
          .withColumn("partition_pruned", lit(pruningPlanned))
          .withColumn("scan_consistent", lit(scannedFiles == expectFiles))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS versions_ok, TRUE AS partition_pruned,
             |  TRUE AS scan_consistent
             |FROM orders
             |WHERE (o_orderpriority IN ('1-URGENT', '5-LOW'))
             |   OR (o_orderpriority = '2-HIGH' AND o_orderkey % 3 = 0)
             |   OR (o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED')
             |       AND o_orderkey % 2 = 0)
             |GROUP BY 1""".stripMargin)),

    // DELTA STATS SKIPPING: the second scan-economy channel beside
    // partition pruning — DeltaWrite records per-file min/max/nullCount
    // from the parquet footers into add.stats, and LogFileIndex tests
    // each live file's interval against the pushed DATA predicates
    // (sources/StatsSkip), so a range-clustered table answers a key-range
    // query touching O(matching files), not O(table). The row writes
    // orders range-clustered by o_orderkey into an UNPARTITIONED Delta
    // table (isolating stats skipping from partition pruning), filters to
    // the bottom decile of the key domain, and pins: values vs DuckDB,
    // all-files-carry-stats, skipping engaged (scanned < live), and
    // scanned == the stats arithmetic's own prediction (robust to the
    // sampled range boundaries — no absolute file counts pinned).
    Q("delta_stats_skipping",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_stats")
        val tbl = s"$wh/orders_clustered"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o.repartitionByRange(8, col("o_orderkey")), tbl)
        val snap = DeltaRead.snapshot(tbl)
        val statsPresent = snap.files.nonEmpty && snap.files.forall(_.stats.nonEmpty)
        val cutoff = o.agg(max(col("o_orderkey"))).head().getLong(0) / 10L
        val filtered = DeltaRead.read(s, tbl).filter(col("o_orderkey") <= cutoff)
        val plan = filtered.queryExecution.executedPlan.toString
        val pushed = plan.contains("Location: LogFileIndex") &&
          "DataFilters: \\[[^\\]]*o_orderkey".r.findFirstIn(plan).nonEmpty
        val scanned = filtered.select(input_file_name()).distinct().count()
        val expected = snap.files.count(_.stats.exists(st =>
          st.min.get("o_orderkey").exists(_.asLong <= cutoff))).toLong
        filtered
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
            countDistinct(col("o_orderpriority")).as("n_prios"))
          .withColumn("stats_present", lit(statsPresent))
          .withColumn("filter_pushed", lit(pushed))
          .withColumn("skipping_effective", lit(scanned < snap.files.size))
          .withColumn("scan_consistent", lit(scanned == expected))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  cast(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
             |  TRUE AS stats_present, TRUE AS filter_pushed,
             |  TRUE AS skipping_effective, TRUE AS scan_consistent
             |FROM orders
             |WHERE o_orderkey <= (SELECT max(o_orderkey) // 10 FROM orders)""".stripMargin)),

    // DELTA DELETION VECTORS: merge-on-read row suppression — the reader
    // feature modern Databricks writers enable BY DEFAULT, so it is the
    // likeliest reason a real customer table fails to open. The row
    // authors an unpartitioned table from even-orderkey `orders`, issues
    // two OVERLAPPING DV deletes through DeltaWrite.deleteWhere (roaring
    // bitmaps per PROTOCOL.md §Deletion Vectors, no Delta/RoaringBitmap
    // library; the second delete must MERGE into each file's existing
    // vector, not replace it), checkpoints, and reads back. Values are oracle-gated; the booleans pin (a) DVs
    // actually engaged, (b) scanned-vs-suppressed row accounting
    // (logical == physical stats rows − DV cardinality), (c) checkpoint
    // round-trip of the vectors, and (d) zero data files rewritten — the
    // copy-free property that makes MoR deletes cheap at 100 TB.
    Q("delta_read_dv",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_dv")
        val tbl = s"$wh/orders_dv"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")), tbl)
        val filesBefore = DeltaRead.snapshot(tbl).files.map(_.path).toSet
        DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 10 === 0)
        DeltaWrite.deleteWhere(s, tbl, col("o_custkey") % 7 === 0)
        val snap = DeltaRead.snapshot(tbl)
        val physRows = snap.files.flatMap(_.stats).map(_.numRecords).sum
        val dvCard = snap.files.flatMap(_.deletionVector).map(_.cardinality).sum
        val logical = DeltaRead.read(s, tbl).count()
        DeltaWrite.checkpoint(s, tbl)
        val afterCp = DeltaRead.read(s, tbl).count()
        DeltaRead.read(s, tbl)
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("dv_applied", lit(dvCard > 0L))
          .withColumn("accounting_ok", lit(logical == physRows - dvCard))
          .withColumn("checkpoint_ok", lit(afterCp == logical))
          .withColumn("no_rewrite", lit(snap.files.map(_.path).toSet == filesBefore))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS dv_applied, TRUE AS accounting_ok,
             |  TRUE AS checkpoint_ok, TRUE AS no_rewrite
             |FROM orders
             |WHERE o_orderkey % 2 = 0
             |  AND o_orderkey % 10 <> 0
             |  AND o_custkey % 7 <> 0""".stripMargin)),

    // DELTA COLUMN MAPPING (name mode): with deletion vectors, the other
    // v3 reader feature modern Databricks writers enable by default —
    // parquet files store uuid-ish PHYSICAL column names and the log keys
    // partitionValues by them; only the field metadata in schemaString
    // ties them to logical names. The row authors a mapped `orders` table
    // (fixture emits physical-named files + mode=name configuration),
    // DV-deletes through it, checkpoints, and reads back with LOGICAL
    // predicates. Values oracle-gated; booleans pin that the raw files
    // really are physical-named (the mapping is load-bearing, not
    // decorative), that partition pruning still engages on the logical
    // predicate, and that the mapping survives checkpoint compaction.
    Q("delta_read_column_mapping",
      (s, dir) => {
        import graft.sources.{DeltaFixture, DeltaRead, DeltaWrite}
        import java.nio.file.{Files, Paths}
        val wh = DvQueries.tmpWarehouse("graft_delta_cm")
        val tbl = s"$wh/orders_cm"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val mapping = Map("o_orderkey" -> "col-11a0", "o_custkey" -> "col-2bf3",
          "o_totalprice" -> "col-3c77", "o_orderpriority" -> "col-4d09")
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        DeltaFixture.commitMapped(s, tbl, o.schema, Seq("o_orderpriority"), 0L,
          mapping, prios.map(p => Map("o_orderpriority" -> p) ->
            o.filter(col("o_orderpriority") === p)))
        DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 10 === 0)
        DeltaWrite.checkpoint(s, tbl)
        Files.deleteIfExists(Paths.get(tbl, "_delta_log", f"${0L}%020d.json"))
        Files.deleteIfExists(Paths.get(tbl, "_delta_log", f"${1L}%020d.json"))
        val snap = DeltaRead.snapshot(tbl)
        val physNamed = snap.files.headOption.exists { f =>
          s.read.parquet(Paths.get(tbl).resolve(f.path).toString)
            .columns.toSet == Set("col-11a0", "col-2bf3", "col-3c77")
        }
        val df = DeltaRead.read(s, tbl)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        val plan = df.queryExecution.executedPlan.toString
        val pruned = plan.contains("Location: LogFileIndex") &&
          "PartitionFilters: \\[[^\\]]*1-URGENT".r.findFirstIn(plan).nonEmpty
        df.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("files_physical_named", lit(physNamed))
          .withColumn("partition_pruned", lit(pruned))
          .withColumn("mapping_survives_checkpoint",
            lit(snap.columnMapping == mapping))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS files_physical_named, TRUE AS partition_pruned,
             |  TRUE AS mapping_survives_checkpoint
             |FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             |  AND o_orderkey % 10 <> 0
             |GROUP BY 1""".stripMargin)),

    // DELTA COLUMN MAPPING (id mode): the OTHER mapping mode — tables
    // converted from Iceberg (or upgraded in place on Databricks) resolve
    // parquet columns by FIELD ID, not by any name: the fixture's data
    // files keep their ORIGINAL logical column names and carry parquet
    // field ids, so physical-NAME matching would project nulls and only
    // id resolution reads the rows (the boolean pins that the raw files
    // really are logical-named). Composes with a DV delete and a
    // checkpoint exactly like the name-mode row.
    Q("delta_read_column_mapping_id",
      (s, dir) => {
        import graft.sources.{DeltaFixture, DeltaRead, DeltaWrite}
        import java.nio.file.{Files, Paths}
        val wh = DvQueries.tmpWarehouse("graft_delta_cmid")
        val tbl = s"$wh/orders_cmid"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val mapping = Map("o_orderkey" -> "col-11a0", "o_custkey" -> "col-2bf3",
          "o_totalprice" -> "col-3c77", "o_orderpriority" -> "col-4d09")
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        DeltaFixture.commitMappedId(s, tbl, o.schema, Seq("o_orderpriority"), 0L,
          mapping, prios.map(p => Map("o_orderpriority" -> p) ->
            o.filter(col("o_orderpriority") === p)))
        DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 10 === 0)
        DeltaWrite.checkpoint(s, tbl)
        Files.deleteIfExists(Paths.get(tbl, "_delta_log", f"${0L}%020d.json"))
        Files.deleteIfExists(Paths.get(tbl, "_delta_log", f"${1L}%020d.json"))
        val snap = DeltaRead.snapshot(tbl)
        val logicalNamed = snap.files.headOption.exists { f =>
          s.read.parquet(Paths.get(tbl).resolve(f.path).toString)
            .columns.toSet == Set("o_orderkey", "o_custkey", "o_totalprice")
        }
        val idMode = snap.fieldIds == Map("o_orderkey" -> 1L, "o_custkey" -> 2L,
          "o_totalprice" -> 3L, "o_orderpriority" -> 4L)
        val df = DeltaRead.read(s, tbl)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        df.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("files_logical_named", lit(logicalNamed))
          .withColumn("id_mode_survives_checkpoint", lit(idMode))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS files_logical_named, TRUE AS id_mode_survives_checkpoint
             |FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
             |  AND o_orderkey % 10 <> 0
             |GROUP BY 1""".stripMargin)),

    // DELTA MULTI-PART CHECKPOINT: large production tables checkpoint in
    // parts (`%020d.checkpoint.%010d.%010d.parquet` + a `parts` field in
    // `_last_checkpoint`) so no single file bottlenecks the log. The row
    // writes a 2-commit table, compacts it into a 3-part checkpoint,
    // DELETES the JSON commits so the snapshot can only come from the
    // parts, and reads back — values oracle-gated, booleans pin the
    // naming scheme on disk and version/partitioning resume.
    Q("delta_multipart_checkpoint",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        import java.nio.file.{Files, Paths}
        val wh = DvQueries.tmpWarehouse("graft_delta_mp")
        val tbl = s"$wh/orders_mp"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl,
          Seq("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), tbl)
        DeltaWrite.checkpoint(s, tbl, parts = 3)
        val logDir = Paths.get(tbl, "_delta_log")
        val partsPresent = (1 to 3).forall(p => Files.exists(
          logDir.resolve(f"${1L}%020d.checkpoint.$p%010d.${3}%010d.parquet")))
        // force resume-from-parts: the replayed JSON history is gone
        Seq(0L, 1L).foreach(v =>
          Files.deleteIfExists(logDir.resolve(f"$v%020d.json")))
        val snap = DeltaRead.snapshot(tbl)
        DeltaRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("parts_present", lit(partsPresent))
          .withColumn("resume_ok",
            lit(snap.version == 1L && snap.partitionColumns == Seq("o_orderpriority")))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS parts_present, TRUE AS resume_ok
             |FROM orders
             |WHERE o_orderkey % 2 = 0
             |   OR o_orderpriority IN ('1-URGENT', '5-LOW')
             |GROUP BY 1""".stripMargin)),

    // ICEBERG V2 ROW-LEVEL DELETES: merge-on-read tables are routine in
    // production lakes (CDC pipelines write equality deletes; compaction
    // writes position deletes). 4-snapshot history over `customer`:
    // s1 adds every customer (one sorted file per segment, so physical
    // positions are pinned), s2 EQUALITY-deletes c_custkey % 5 = 0,
    // s3 re-appends the % 10 = 0 subset — the spec's sequence rule says
    // the s2 delete (seq 2) must NOT touch these seq-3 rows — and s4
    // POSITION-deletes row 0 of the s1 AUTOMOBILE file (its minimum
    // custkey). The oracle recomputes the visible set from `customer`
    // alone, so mis-sequenced equality deletes, resurrection of carried
    // deletes, or off-by-one positions all go red on values.
    Q("iceberg_read_deletes",
      (s, dir) => {
        import graft.sources.{IcebergFixture, IcebergRead}
        val wh = DvQueries.tmpWarehouse("graft_ice_deletes")
        val tbl = s"$wh/customer_mor"
        val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val files = IcebergFixture.snapshot(s, tbl, c.schema, Seq("c_mktsegment"), 1L,
          segs.map(g => Map("c_mktsegment" -> g) ->
            c.filter(col("c_mktsegment") === g).orderBy("c_custkey")))
        IcebergFixture.equalityDeleteSnapshot(s, tbl, 2L, Seq("c_custkey"),
          c.filter(col("c_custkey") % 5 === 0).select("c_custkey"))
        val re = c.filter(col("c_custkey") % 10 === 0)
        IcebergFixture.snapshot(s, tbl, c.schema, Seq("c_mktsegment"), 3L,
          segs.map(g => Map("c_mktsegment" -> g) ->
            re.filter(col("c_mktsegment") === g).orderBy("c_custkey")))
        IcebergFixture.positionDeleteSnapshot(s, tbl, 4L, Seq(files.head -> 0L))
        val snap = IcebergRead.snapshot(tbl)
        IcebergRead.read(s, tbl)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))
          .withColumn("delete_files_live", lit(snap.deletes.size))
          .withColumn("kinds_ok", lit(snap.deletes.count(_.isEquality) == 1 &&
            snap.deletes.count(!_.isEquality) == 1))
      },
      Some("""WITH mk AS (SELECT min(c_custkey) AS m FROM customer
             |            WHERE c_mktsegment = 'AUTOMOBILE'),
             |vis AS (
             |  SELECT * FROM customer
             |  WHERE c_custkey % 5 <> 0 AND c_custkey <> (SELECT m FROM mk)
             |  UNION ALL
             |  SELECT * FROM customer WHERE c_custkey % 10 = 0)
             |SELECT c_mktsegment AS segment,
             |  cast(count(*) AS BIGINT) AS n_customers,
             |  cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |    AS acctbal_cents,
             |  2 AS delete_files_live, TRUE AS kinds_ok
             |FROM vis GROUP BY 1""".stripMargin)),

    // INTEROP TIME TRAVEL: any retained historical version/snapshot of an
    // open-format table reconstructs exactly — the parity story the
    // engine already tells for its own tx log (`txlog_time_travel`)
    // extended over both interop formats. Delta: replay truncated at the
    // target version (a checkpoint is only used when it does not
    // overshoot); Iceberg: the metadata's snapshots array resolves any
    // retained id to its own manifest list. The row authors a 3-commit
    // Delta history (append/append/dynamic-overwrite) and a 2-snapshot
    // Iceberg history, then reads EVERY point in both histories; the
    // oracle recomputes each point from the raw tables, so a replay that
    // leaks a later commit into an earlier version (or vice versa) goes
    // red on that point's values.
    Q("interop_time_travel",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite, IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_interop_tt")
        val dTbl = s"$wh/orders_delta"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), dTbl,
          Seq("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), dTbl)
        DeltaWrite.write(o.filter(col("o_orderpriority") === "2-HIGH" &&
          col("o_orderkey") % 3 === 0), dTbl, mode = "overwritePartitions")
        val iTbl = s"$wh/customer_ice"
        val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
          col("c_mktsegment"))
        IcebergWrite.write(c.filter(col("c_custkey") % 2 === 0), iTbl,
          Seq("c_mktsegment"))
        IcebergWrite.write(c.filter(col("c_custkey") % 2 === 1 &&
          col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")), iTbl)
        def m(df: DataFrame, src: String, pt: String, value: Column): DataFrame =
          df.agg(count(lit(1)).as("n_rows"),
            sum(round(value * 100).cast("long")).as("cents"))
            .withColumn("src", lit(src)).withColumn("pt", lit(pt))
        Seq(
          m(DeltaRead.readAt(s, dTbl, 0), "delta", "v0", col("o_totalprice")),
          m(DeltaRead.readAt(s, dTbl, 1), "delta", "v1", col("o_totalprice")),
          m(DeltaRead.read(s, dTbl), "delta", "head", col("o_totalprice")),
          m(IcebergRead.readAt(s, iTbl, 1L), "iceberg", "s1", col("c_acctbal")),
          m(IcebergRead.read(s, iTbl), "iceberg", "head", col("c_acctbal")))
          .reduce(_ unionByName _)
          .select("src", "pt", "n_rows", "cents")
      },
      Some("""SELECT 'delta' AS src, 'v0' AS pt, cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT 'delta', 'v1', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |FROM orders WHERE o_orderkey % 2 = 0
             |   OR o_orderpriority IN ('1-URGENT', '5-LOW')
             |UNION ALL
             |SELECT 'delta', 'head', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |FROM orders
             |WHERE (o_orderpriority <> '2-HIGH'
             |       AND (o_orderkey % 2 = 0 OR o_orderpriority IN ('1-URGENT', '5-LOW')))
             |   OR (o_orderpriority = '2-HIGH' AND o_orderkey % 3 = 0)
             |UNION ALL
             |SELECT 'iceberg', 's1', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |FROM customer WHERE c_custkey % 2 = 0
             |UNION ALL
             |SELECT 'iceberg', 'head', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |FROM customer WHERE c_custkey % 2 = 0
             |   OR c_mktsegment IN ('AUTOMOBILE', 'BUILDING')""".stripMargin)),

    // DELTA INCREMENTAL READ: the batch consume-new-data half of a CDC
    // pipeline over an append-only table — readAppends((from, to]) must
    // return EXACTLY the rows the version range added (partition values
    // restored from the log), the shape a catch-up/backfill job needs
    // when the streaming tail (streaming_delta_tail) was down. The
    // oracle recomputes commits 1..2's row sets from `orders` directly,
    // so a range that leaks v0 rows (off-by-one on `from`) or drops a
    // partition tuple goes red on values.
    Q("delta_incremental_read",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_incr")
        val tbl = s"$wh/orders_incr"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl,
          Seq("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), tbl)
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 3 === 0), tbl)
        val emptyOk = DeltaRead.readAppends(s, tbl, 2, 2).isEmpty
        DeltaRead.readAppends(s, tbl, 0, 2)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("empty_range_ok", lit(emptyOk))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS empty_range_ok
             |FROM orders
             |WHERE o_orderkey % 2 = 1
             |  AND (o_orderpriority IN ('1-URGENT', '5-LOW')
             |       OR (o_orderpriority = '2-HIGH' AND o_orderkey % 3 = 0))
             |GROUP BY 1""".stripMargin)),

    // ICEBERG INCREMENTAL READ: the other format's batch consume-new-data
    // channel (IcebergRead.readAppends — delta_incremental_read's
    // sibling). Iceberg's twist: manifests mark each snapshot's delta
    // explicitly (status-1 ADDED entries), so no log replay is needed —
    // the appended files are read directly. Same 3-slice history as the
    // Delta row; the range reads slices 2+3, an empty (s,s] range pins
    // the boundary, and a range crossing a REWRITE snapshot (compaction)
    // must reject loudly rather than double-serve rearranged rows.
    Q("iceberg_incremental_read",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_incr")
        val tbl = s"$wh/orders_incr"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl)
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), tbl)
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 3 === 0), tbl)
        val emptyOk = IcebergRead.readAppends(s, tbl, 2L, 2L).isEmpty
        IcebergWrite.rewriteDataFiles(s, tbl, targetFileBytes = Long.MaxValue)
        val rewriteRejected =
          try { IcebergRead.readAppends(s, tbl, 3L, 4L); false }
          catch { case _: IllegalArgumentException => true }
        IcebergRead.readAppends(s, tbl, 1L, 3L)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("empty_range_ok", lit(emptyOk))
          .withColumn("rewrite_range_rejected", lit(rewriteRejected))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS empty_range_ok, TRUE AS rewrite_range_rejected
             |FROM orders
             |WHERE o_orderkey % 2 = 1
             |  AND (o_orderpriority IN ('1-URGENT', '5-LOW')
             |       OR (o_orderpriority = '2-HIGH' AND o_orderkey % 3 = 0))
             |GROUP BY 1""".stripMargin)),

    // DELTA CHANGE DATA FEED: row-level change capture over the interop
    // seam (PROTOCOL.md §Add CDC File). 3-commit history from `orders`:
    // v0 appends evens, v1 appends odd URGENT/LOW, v2 deletes the whole
    // 5-LOW partition THROUGH A CDC COMMIT the fixture authors — cdc
    // files under _change_data/ carry the deleted rows + _change_type,
    // and the reader must treat them as the commit's authoritative
    // change set while synthesizing insert changes for the cdc-less
    // v0/v1 from their add actions. The oracle recomputes each
    // (version, change_type) group from `orders`; the boolean pins the
    // insert−delete row-count identity against the head read.
    Q("delta_change_feed",
      (s, dir) => {
        import graft.sources.{DeltaFixture, DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_cdf")
        val tbl = s"$wh/orders_cdf"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl,
          Seq("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), tbl)
        val snap = DeltaRead.snapshot(tbl)
        val lowFiles = snap.files
          .filter(_.partitionValues.get("o_orderpriority").contains("5-LOW")).map(_.path)
        // the 5-LOW partition holds evens (v0) + odds (v1) = ALL 5-LOW rows
        val lowRows = o.filter(col("o_orderpriority") === "5-LOW")
          .withColumn("_change_type", lit("delete"))
        DeltaFixture.cdcCommit(s, tbl, 2L, Seq("o_orderpriority"),
          cdc = Seq(Map("o_orderpriority" -> "5-LOW") -> lowRows),
          removes = lowFiles)
        val feed = DeltaRead.readChangeFeed(s, tbl, -1, 2)
        val inserts = feed.filter(col("_change_type") === "insert").count()
        val deletes = feed.filter(col("_change_type") === "delete").count()
        val headOk = DeltaRead.read(s, tbl).count() == inserts - deletes
        feed.groupBy(col("_commit_version").as("commit_version"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .withColumn("head_consistent", lit(headOk))
      },
      Some("""SELECT 0 AS commit_version, 'insert' AS change_type,
             |  cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents, TRUE AS head_consistent
             |FROM orders WHERE o_orderkey % 2 = 0
             |UNION ALL
             |SELECT 1, 'insert', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders WHERE o_orderkey % 2 = 1
             |  AND o_orderpriority IN ('1-URGENT', '5-LOW')
             |UNION ALL
             |SELECT 2, 'delete', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders WHERE o_orderpriority = '5-LOW'""".stripMargin)),

    // SCHEMA EVOLUTION ON WRITE (both formats): mergeSchema appends a
    // nullable column mid-history — the widened schema lands in the log
    // (Delta: a metaData action; Iceberg: the next metadata version with
    // positionally-stable field ids) and the PRE-evolution data files,
    // which physically lack the column, read back as NULLs through the
    // name-resolving scan. The oracle derives each row's expected flag
    // state from orderkey parity alone, so a reader that drops old files,
    // mis-aligns the new column, or defaults it to false goes red.
    Q("interop_schema_evolution",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite, IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_evo")
        val o = rd(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val old = o.filter(col("o_orderkey") % 2 === 0)
        val young = o.filter(col("o_orderkey") % 2 === 1)
          .withColumn("o_flagged", col("o_orderkey") % 3 === 0)
        val dt = s"$wh/orders_evo_delta"
        DeltaWrite.write(old, dt)
        DeltaWrite.write(young, dt, mergeSchema = true)
        val it = s"$wh/orders_evo_ice"
        IcebergWrite.write(old, it)
        IcebergWrite.write(young, it, mergeSchema = true)
        DeltaRead.read(s, dt).withColumn("fmt", lit("delta"))
          .unionByName(IcebergRead.read(s, it).withColumn("fmt", lit("iceberg")))
          .groupBy(col("fmt"),
            when(col("o_flagged").isNull, "null")
              .when(col("o_flagged"), "true").otherwise("false")
              .as("flag_state"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      },
      Some("""SELECT f.fmt,
             |  CASE WHEN o_orderkey % 2 = 0 THEN 'null'
             |       WHEN o_orderkey % 3 = 0 THEN 'true'
             |       ELSE 'false' END AS flag_state,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents
             |FROM orders, (SELECT 'delta' AS fmt UNION ALL SELECT 'iceberg') f
             |GROUP BY 1, 2""".stripMargin)),

    // CDF EMISSION ON THE WRITE PATH: with delta.enableChangeDataFeed=true
    // (DeltaWrite.setProperties — ALTER TABLE SET TBLPROPERTIES as a
    // metaData commit), a deleteWhere DV commit persists its deleted rows
    // under _change_data/ and records cdc actions, so readChangeFeed —
    // or any conformant engine — serves the commit as changes instead of
    // rejecting a DV-without-cdc commit. The feed over the full history
    // composes synthesis (v0's inserts from add actions) with the
    // graft-authored cdc deletes (v2); the boolean pins head == inserts
    // − deletes. Oracle recomputes both groups from `orders`.
    Q("delta_cdf_dv_write",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_cdfw")
        val tbl = s"$wh/orders_cdfw"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o, tbl, Seq("o_orderpriority"))              // v0
        DeltaWrite.setProperties(s, tbl,
          Map("delta.enableChangeDataFeed" -> "true"))                // v1
        DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 7 === 0)   // v2
        val feed = DeltaRead.readChangeFeed(s, tbl, -1, 2)
        val inserts = feed.filter(col("_change_type") === "insert").count()
        val deletes = feed.filter(col("_change_type") === "delete").count()
        val headOk = DeltaRead.read(s, tbl).count() == inserts - deletes
        feed.groupBy(col("_commit_version").as("commit_version"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .withColumn("head_consistent", lit(headOk))
      },
      Some("""SELECT 0 AS commit_version, 'insert' AS change_type,
             |  cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents, TRUE AS head_consistent
             |FROM orders
             |UNION ALL
             |SELECT 2, 'delete', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin)),

    // ICEBERG MANIFEST COLUMN-BOUNDS SKIPPING: the second scan-economy
    // channel beside identity-partition pruning — manifests carry
    // per-field-id lower_bounds/upper_bounds (single-value binary
    // serialization, Table Spec Appendix D) that LogFileIndex tests
    // against the pushed data predicates through the SAME StatsSkip
    // arithmetic Delta's add.stats uses. Fixture: an UNPARTITIONED table
    // whose 8 files are orderkey-range-clustered, so only bounds (not
    // partition tuples) can prune. scanned == predicted is pinned the
    // same way delta_stats_skipping pins it.
    Q("iceberg_stats_skipping",
      (s, dir) => {
        import graft.sources.{IcebergFixture, IcebergRead}
        val wh = DvQueries.tmpWarehouse("graft_iceberg_stats")
        val tbl = s"$wh/orders_ice_stats"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val step = math.max(1L, maxKey / 8L + 1L)
        IcebergFixture.snapshot(s, tbl, o.schema, Nil, 1L,
          (0L until 8L).map(i => Map.empty[String, String] ->
            o.filter(col("o_orderkey") >= i * step &&
              col("o_orderkey") < (i + 1) * step)))
        val snap = IcebergRead.snapshot(tbl)
        val statsPresent = snap.files.nonEmpty && snap.files.forall(_.stats.nonEmpty)
        val cutoff = maxKey / 10L
        val filtered = IcebergRead.read(s, tbl).filter(col("o_orderkey") <= cutoff)
        val plan = filtered.queryExecution.executedPlan.toString
        val pushed = plan.contains("Location: LogFileIndex") &&
          "DataFilters: \\[[^\\]]*o_orderkey".r.findFirstIn(plan).nonEmpty
        val scanned = filtered.select(input_file_name()).distinct().count()
        val expected = snap.files.count(_.stats.exists(st =>
          st.min.get("o_orderkey").exists(_.asLong <= cutoff))).toLong
        filtered
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
            countDistinct(col("o_orderpriority")).as("n_prios"))
          .withColumn("stats_present", lit(statsPresent))
          .withColumn("filter_pushed", lit(pushed))
          .withColumn("skipping_effective", lit(scanned < snap.files.size))
          .withColumn("scan_consistent", lit(scanned == expected))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  cast(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
             |  TRUE AS stats_present, TRUE AS filter_pushed,
             |  TRUE AS skipping_effective, TRUE AS scan_consistent
             |FROM orders
             |WHERE o_orderkey <= (SELECT max(o_orderkey) // 10 FROM orders)""".stripMargin)),

    // ICEBERG READ INTEROP: the other open table format a real corpus
    // lives in (sources/IcebergRead — versioned metadata JSON + avro
    // manifest parsing per the published Iceberg Table Spec; no Iceberg
    // library). Iceberg's twist vs Delta: data files CONTAIN the
    // partition source columns, so the scan has no Spark partition
    // schema and pruning rides the pushed DATA filters over the
    // identity-transform tuple. Fixture: 2-snapshot table from
    // `customer` — snapshot 1 adds one even-custkey file per
    // c_mktsegment, snapshot 2 adds odd files for two segments and
    // status=2-deletes the even AUTOMOBILE file. Values + pinned
    // live/scanned file counts + plan proof, oracle-gated.
    Q("iceberg_read_interop",
      (s, dir) => {
        import graft.sources.{IcebergFixture, IcebergRead, LogScan}
        val wh = DvQueries.tmpWarehouse("graft_iceberg_interop")
        val tbl = s"$wh/customer_iceberg"
        val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val partCols = Seq("c_mktsegment")
        val s1 = IcebergFixture.snapshot(s, tbl, c.schema, partCols, 1L,
          segs.map(g => Map("c_mktsegment" -> g) ->
            c.filter(col("c_mktsegment") === g && col("c_custkey") % 2 === 0)))
        IcebergFixture.snapshot(s, tbl, c.schema, partCols, 2L,
          Seq("AUTOMOBILE", "BUILDING").map(g => Map("c_mktsegment" -> g) ->
            c.filter(col("c_mktsegment") === g && col("c_custkey") % 2 === 1)),
          removes = Seq(s1(segs.indexOf("AUTOMOBILE"))))
        val snap = IcebergRead.snapshot(tbl)
        val df = IcebergRead.read(s, tbl)
          .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        val scanned = LogScan.keptFiles(df).size
        // seam proof: custom index serving the scan, predicate pushed as
        // a data filter (Iceberg has no Spark partition columns)
        val plan = df.queryExecution.executedPlan.toString
        val pruningPlanned = plan.contains("Location: LogFileIndex") &&
          "DataFilters: \\[[^\\]]*AUTOMOBILE".r.findFirstIn(plan).nonEmpty
        df.groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))
          .withColumn("files_live", lit(snap.files.size))
          .withColumn("files_scanned", lit(scanned))
          .withColumn("partition_pruned", lit(pruningPlanned))
      },
      Some("""SELECT c_mktsegment AS segment,
             |  cast(count(*) AS BIGINT) AS n_customers,
             |  cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |    AS acctbal_cents,
             |  6 AS files_live, 3 AS files_scanned, TRUE AS partition_pruned
             |FROM customer
             |WHERE c_mktsegment = 'BUILDING'
             |   OR (c_mktsegment = 'AUTOMOBILE' AND c_custkey % 2 = 1)
             |GROUP BY 1""".stripMargin)),

    // ICEBERG WRITE ROUNDTRIP: the distributed write-path complement of
    // the Iceberg read interop (sources/IcebergWrite — one partitionBy
    // stage over shadow partition columns so data files RETAIN the source
    // columns as the spec requires, then a shared metadata commit with
    // the fixture's manifest core). 3-snapshot history from `customer`:
    // s1 appends even custkeys across all segments, s2 appends odd keys
    // for AUTOMOBILE/BUILDING, s3 dynamic-overwrites FURNITURE with its
    // %3==0 subset. The oracle recomputes the final state from `customer`;
    // booleans pin snapshot numbering, data-filter pushdown through
    // LogFileIndex, and kept-files/actual-scan agreement.
    Q("iceberg_write_roundtrip",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite, LogScan}
        val wh = DvQueries.tmpWarehouse("graft_ice_write")
        val tbl = s"$wh/customer_iceberg"
        val c = rd(s, dir, "customer").select(col("c_custkey"), col("c_name"),
          col("c_acctbal"), col("c_mktsegment"))
        val s1 = IcebergWrite.write(c.filter(col("c_custkey") % 2 === 0), tbl,
          Seq("c_mktsegment"))
        val s2 = IcebergWrite.write(
          c.filter(col("c_custkey") % 2 === 1 &&
            col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")), tbl)
        val s3 = IcebergWrite.write(
          c.filter(col("c_mktsegment") === "FURNITURE" && col("c_custkey") % 3 === 0),
          tbl, mode = "overwritePartitions")
        val snap = IcebergRead.snapshot(tbl)
        val versionsOk = s1 == 1L && s2 == 2L && s3 == 3L && snap.snapshotId == 3L
        val filtered = IcebergRead.read(s, tbl)
          .filter(col("c_mktsegment").isin("AUTOMOBILE", "FURNITURE"))
        val plan = filtered.queryExecution.executedPlan.toString
        val pushed = plan.contains("Location: LogFileIndex") &&
          "DataFilters: \\[[^\\]]*AUTOMOBILE".r.findFirstIn(plan).nonEmpty
        val expected = LogScan.keptFiles(filtered).size.toLong
        val scanned = filtered.select(input_file_name()).distinct().count()
        IcebergRead.read(s, tbl)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))
          .withColumn("versions_ok", lit(versionsOk))
          .withColumn("filter_pushed", lit(pushed))
          .withColumn("scan_consistent", lit(scanned == expected))
      },
      Some("""SELECT c_mktsegment AS segment,
             |  cast(count(*) AS BIGINT) AS n_customers,
             |  cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |    AS acctbal_cents,
             |  TRUE AS versions_ok, TRUE AS filter_pushed,
             |  TRUE AS scan_consistent
             |FROM customer
             |WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
             |   OR (c_mktsegment = 'FURNITURE' AND c_custkey % 3 = 0)
             |   OR (c_mktsegment IN ('HOUSEHOLD', 'MACHINERY')
             |       AND c_custkey % 2 = 0)
             |GROUP BY 1""".stripMargin)),

    // NESTED SCHEMA PRUNING proof: metadata lives in STRUCT columns (the
    // multimodal pattern — a blob beside a typed meta struct); selecting
    // one leaf must prune the parquet ReadSchema to THAT LEAF, not the
    // whole struct (spark.sql.optimizer.nestedSchemaPruning, on by
    // default). Plan-asserted like the other _proof queries; at 100 TB
    // reading meta.lang instead of the full meta struct is the
    // difference between KBs and the whole metadata payload per file.
    Q("nested_pruning_proof",
      (s, dir) => {
        val base = DvQueries.tmpWarehouse("graft_nested")
        rd(s, dir, "events")
          .select(col("event_id"),
            struct(col("event_type").as("etype"), col("value").as("v"),
              col("props").as("raw")).as("meta"))
          .write.mode("overwrite").parquet(s"$base/nested")
        val q = s.read.parquet(s"$base/nested")
          .select(col("event_id"), col("meta.etype").as("etype"))
        val readSchema = q.queryExecution.executedPlan.toString
          .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
        val pruned = readSchema.contains("etype") &&
          !readSchema.contains("raw") && !readSchema.contains("v:")
        q.groupBy(col("etype"))
          .agg(count(lit(1)).as("n"))
          .withColumn("nested_pruned", lit(pruned))
      },
      Some("""SELECT event_type AS etype, cast(count(*) AS BIGINT) AS n,
             |  TRUE AS nested_pruned
             |FROM events GROUP BY 1""".stripMargin)),

    // COMPRESSION CODEC REPORT: identical data written uncompressed /
    // snappy / zstd, sizes measured from the files — the storage-cost
    // knob a 100 TB estate turns first (zstd over snappy is typically
    // ~25-40% smaller at similar scan speed). Size ORDERING is asserted
    // (byte counts are layout-dependent); row parity is proven by
    // reading the zstd copy back.
    Q("compression_codec_report",
      (s, dir) => {
        val base = DvQueries.tmpWarehouse("graft_codec")
        val o = rd(s, dir, "orders")
        def bytes(p: String): Long = {
          val d = new java.io.File(p)
          d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
        }
        o.write.mode("overwrite").option("compression", "none").parquet(s"$base/none")
        o.write.mode("overwrite").option("compression", "snappy").parquet(s"$base/snappy")
        o.write.mode("overwrite").option("compression", "zstd").parquet(s"$base/zstd")
        val (bn, bs, bz) = (bytes(s"$base/none"), bytes(s"$base/snappy"), bytes(s"$base/zstd"))
        s.read.parquet(s"$base/zstd")
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("zstd_lt_snappy", lit(bz < bs))
          .withColumn("snappy_lt_none", lit(bs < bn))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  TRUE AS zstd_lt_snappy, TRUE AS snappy_lt_none
             |FROM orders""".stripMargin)),

    // ITERATIVE LINEAGE MANAGEMENT: a 12-step iterative computation
    // (climbing the binary-tree hierarchy, accumulating the path sum)
    // driven as a Scala loop with localCheckpoint() every 4 steps —
    // without truncation the lineage (and closure serialization, and
    // planning time) grows with every iteration, the classic failure of
    // long iterative jobs at scale. The oracle recomputes the path sums
    // in one recursive CTE, so truncation provably does not change
    // results.
    Q("lineage_checkpoint_parity",
      (s, dir) => {
        var frontier = rd(s, dir, "customer")
          .select(col("c_custkey").as("k"), col("c_custkey").as("cur"),
            col("c_custkey").as("path_sum"))
        var done = frontier.filter(col("cur") === 1L)
          .select(col("k"), col("path_sum"))
        // loop to FIXPOINT (driver-side isEmpty probe per round, the
        // standard iterative-driver pattern), hard-capped well above
        // log2(maxKey); depth grows with the key domain, so a fixed
        // iteration count would silently truncate at larger sf
        var i = 0
        while (i < 48 && !frontier.filter(col("cur") > 1L).isEmpty) {
          frontier = frontier.filter(col("cur") > 1L)
            .select(col("k"), expr("cur div 2").as("cur"),
              (col("path_sum") + expr("cur div 2")).as("path_sum"))
          if (i % 4 == 3) frontier = frontier.localCheckpoint()
          done = done.unionByName(frontier.filter(col("cur") === 1L)
            .select(col("k"), col("path_sum")))
          i += 1
        }
        done.agg(count(lit(1)).as("n_keys"),
          sum("path_sum").as("total_path_sum"),
          max("path_sum").as("max_path_sum"))
      },
      Some("""WITH RECURSIVE anc AS (
             |  SELECT c_custkey AS k, c_custkey AS cur,
             |    c_custkey AS path_sum FROM customer
             |  UNION ALL
             |  SELECT k, cur // 2, path_sum + cur // 2 FROM anc WHERE cur > 1)
             |SELECT cast(count(*) AS BIGINT) AS n_keys,
             |  cast(sum(path_sum) AS BIGINT) AS total_path_sum,
             |  cast(max(path_sum) AS BIGINT) AS max_path_sum
             |FROM anc WHERE cur = 1""".stripMargin)),

    // SEASONAL-NAIVE BACKTEST: forecast every day's per-type event count
    // with the value from 7 days earlier (the baseline every real
    // forecaster must beat) and score MAPE over the scored span — the
    // standard backtesting protocol as one windowed query: lag(7) over
    // (type) ordered by day, partitioned aggregation, no global sort.
    Q("seasonal_naive_backtest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = rd(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("day")
        daily.withColumn("pred", lag(col("n"), 7).over(w))
          .filter(col("pred").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_scored_days"),
            round(avg(abs(col("n") - col("pred")).cast("double") /
              col("n").cast("double")) * 100.0, 2).as("mape_pct"),
            round(max(abs(col("n") - col("pred"))).cast("double"), 1)
              .as("max_abs_err"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type, cast(ts AS DATE) AS day,
             |    cast(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |p AS (SELECT *, lag(n, 7) OVER (PARTITION BY event_type
             |        ORDER BY day) AS pred FROM daily)
             |SELECT event_type, cast(count(*) AS BIGINT) AS n_scored_days,
             |  round(avg(cast(abs(n - pred) AS double) / cast(n AS double))
             |    * 100.0, 2) AS mape_pct,
             |  round(cast(max(abs(n - pred)) AS double), 1) AS max_abs_err
             |FROM p WHERE pred IS NOT NULL GROUP BY 1""".stripMargin)),

    // WINDOW RANK FAMILY in one sweep: rank / dense_rank / ntile(4) /
    // percent_rank / cume_dist over account balance within each market
    // segment — the full ranking surface with its exact tie semantics
    // (rank gaps, dense packing, ntile remainder-first distribution,
    // (r−1)/(n−1) percent_rank, inclusive cume_dist) pinned cross-engine.
    // All windows are segment-partitioned.
    Q("window_rank_family",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        rd(s, dir, "customer")
          .filter(col("c_custkey") <= 200)
          .select(col("c_mktsegment").as("segment"), col("c_custkey"),
            rank().over(w).as("rnk"),
            dense_rank().over(w).as("drnk"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 4).as("pct_rank"),
            round(cume_dist().over(w), 4).as("cume"))
      },
      Some("""SELECT c_mktsegment AS segment, c_custkey,
             |  cast(rank() OVER w AS INT) AS rnk,
             |  cast(dense_rank() OVER w AS INT) AS drnk,
             |  cast(ntile(4) OVER w AS INT) AS quartile,
             |  round(percent_rank() OVER w, 4) AS pct_rank,
             |  round(cume_dist() OVER w, 4) AS cume
             |FROM customer WHERE c_custkey <= 200
             |WINDOW w AS (PARTITION BY c_mktsegment
             |  ORDER BY c_acctbal DESC, c_custkey)""".stripMargin)),

    // FUNCTIONAL-DEPENDENCY DISCOVERY: for each candidate lhs→rhs pair,
    // count lhs values mapping to MORE than one rhs — the data-profiling
    // primitive behind key detection and schema normalization. Each
    // candidate is one (distinct-pair → group-count) aggregation; the
    // candidate list is declared, so the scan count is bounded and each
    // aggregation shuffle-partitions on its lhs.
    Q("fd_discovery",
      (s, dir) => {
        val oc = rd(s, dir, "orders").join(rd(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        def fd(lhs: String, rhs: String): DataFrame =
          oc.select(col(lhs).as("l"), col(rhs).as("r")).distinct()
            .groupBy("l").agg(countDistinct("r").as("nr"))
            .agg(count(lit(1)).as("n_lhs"),
              sum(when(col("nr") > 1, 1L).otherwise(0L)).as("n_violating"))
            .withColumn("fd", lit(s"$lhs->$rhs"))
        fd("o_custkey", "c_mktsegment")
          .unionByName(fd("o_orderkey", "o_orderpriority"))
          .unionByName(fd("c_mktsegment", "o_orderpriority"))
          .unionByName(fd("o_orderpriority", "o_orderstatus"))
          .select(col("fd"), col("n_lhs"), col("n_violating"),
            (col("n_violating") === 0L).as("holds"))
      },
      Some("""WITH oc AS (
             |  SELECT * FROM orders o JOIN customer c
             |  ON c.c_custkey = o.o_custkey),
             |f1 AS (SELECT 'o_custkey->c_mktsegment' AS fd,
             |  cast(count(*) AS BIGINT) AS n_lhs,
             |  cast(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_violating
             |  FROM (SELECT o_custkey, count(DISTINCT c_mktsegment) AS nr
             |        FROM oc GROUP BY 1)),
             |f2 AS (SELECT 'o_orderkey->o_orderpriority',
             |  cast(count(*) AS BIGINT),
             |  cast(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM (SELECT o_orderkey, count(DISTINCT o_orderpriority) AS nr
             |        FROM oc GROUP BY 1)),
             |f3 AS (SELECT 'c_mktsegment->o_orderpriority',
             |  cast(count(*) AS BIGINT),
             |  cast(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM (SELECT c_mktsegment, count(DISTINCT o_orderpriority) AS nr
             |        FROM oc GROUP BY 1)),
             |f4 AS (SELECT 'o_orderpriority->o_orderstatus',
             |  cast(count(*) AS BIGINT),
             |  cast(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |  FROM (SELECT o_orderpriority, count(DISTINCT o_orderstatus) AS nr
             |        FROM oc GROUP BY 1)),
             |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
             |      UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
             |SELECT fd, n_lhs, n_violating, n_violating = 0 AS holds FROM u""".stripMargin)),

    // MALFORMED-RECORD HANDLING: a CSV landing zone with corrupt lines
    // (injected) read under PERMISSIVE mode — bad rows surface in
    // _corrupt_record instead of killing the job, and the dead-letter
    // split (good vs corrupt counts, plus the good-row checksum) is the
    // ingestion contract. DROPMALFORMED parity rides along. At 100 TB a
    // fail-fast parse of dirty vendor feeds is an outage; this is the
    // quarantine pattern.
    Q("malformed_record_handling",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val base = DvQueries.tmpWarehouse("graft_badcsv")
        val good = rd(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        good.coalesce(1).write.mode("overwrite").option("header", "true")
          .csv(s"$base/csv")
        // inject three corrupt lines into the landing file
        val dirFile = new java.io.File(s"$base/csv")
        val part = dirFile.listFiles().filter(_.getName.endsWith(".csv")).head
        val w = new java.io.FileWriter(part, true)
        w.write("not,a,number_here_extra,x\nBROKEN\n99,NoRegion,\n")
        w.close()
        // the append invalidates Hadoop's .crc sidecar — drop it, as any
        // out-of-band landing-zone mutation would have no sidecar at all
        dirFile.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())
        val schema = StructType(Seq(
          StructField("n_nationkey", LongType), StructField("n_name", StringType),
          StructField("n_regionkey", LongType),
          StructField("_corrupt_record", StringType)))
        val perm = s.read.option("header", "true").option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(schema).csv(s"$base/csv").cache()
        val dropped = s.read.option("header", "true").option("mode", "DROPMALFORMED")
          .schema(StructType(schema.fields.dropRight(1))).csv(s"$base/csv")
        perm.agg(count(lit(1)).as("n_total"),
            sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
              .as("n_corrupt"),
            sum(when(col("_corrupt_record").isNull, col("n_nationkey"))
              .otherwise(0L)).as("good_key_sum"))
          // count a REAL column: CSV column pruning means count(*) parses
          // nothing, so DROPMALFORMED would silently drop nothing
          .crossJoin(broadcast(dropped.agg(
            count(col("n_nationkey")).as("n_dropmalformed"))))
      },
      // 25 good rows + 3 injected: '99,NoRegion,' parses with a NULL
      // regionkey (CSV missing trailing field) — PERMISSIVE keeps it as
      // a GOOD row; the other two are corrupt. DROPMALFORMED (schema
      // without the corrupt column) keeps 26.
      Some("""SELECT cast(count(*) + 3 AS BIGINT) AS n_total,
             |  cast(2 AS BIGINT) AS n_corrupt,
             |  cast(sum(n_nationkey) + 99 AS BIGINT) AS good_key_sum,
             |  cast(count(*) + 1 AS BIGINT) AS n_dropmalformed
             |FROM nation""".stripMargin)),

    // VARIANT (Spark 4 semi-structured type): raw JSON props parse to
    // VARIANT once, fields extract with variant_get at query time — the
    // shred-on-read contract that replaces per-query string JSON parsing
    // (parse once per row, typed access after; at 100 TB the parse is
    // the cost, not the extraction). Aggregates pinned to DuckDB's JSON
    // reading of the same strings.
    Q("variant_json_shred",
      (s, dir) => {
        rd(s, dir, "events")
          .select(col("event_type"), expr("parse_json(props)").as("v"))
          .select(col("event_type"),
            expr("variant_get(v, '$.k', 'long')").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum("k").as("k_sum"),
            countDistinct("k").as("k_distinct"),
            max("k").as("k_max"))
      },
      Some("""SELECT event_type, cast(count(*) AS BIGINT) AS n,
             |  cast(sum(cast(json_extract_string(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS k_sum,
             |  cast(count(DISTINCT cast(json_extract_string(props, '$.k')
             |    AS BIGINT)) AS BIGINT) AS k_distinct,
             |  cast(max(cast(json_extract_string(props, '$.k') AS BIGINT))
             |    AS BIGINT) AS k_max
             |FROM events GROUP BY 1""".stripMargin)),

    // INLINE OBSERVED METRICS (Dataset.observe + Observation): audit
    // counts collected DURING the main query's execution — zero extra
    // scans, the accumulator piggybacks on the pass that computes the
    // result. The batch-ingestion contract at 100 TB: row counts and
    // quality tallies cost nothing, a separate audit query costs a full
    // read. The observed values are re-emitted as columns and pinned to
    // the oracle's recomputation.
    Q("observe_metrics_inline",
      (s, dir) => {
        val obs = new org.apache.spark.sql.Observation("graft_obs")
        val q = rd(s, dir, "orders")
          .observe(obs,
            count(lit(1)).as("obs_rows"),
            sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
              .as("obs_finished"),
            max(round(col("o_totalprice") * 100).cast("long")).as("obs_max_cents"))
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"))
        q.collect()  // drives the single pass that fills the observation
        val m = obs.get
        q.withColumn("obs_rows", lit(m("obs_rows").asInstanceOf[Long]))
          .withColumn("obs_finished", lit(m("obs_finished").asInstanceOf[Long]))
          .withColumn("obs_max_cents", lit(m("obs_max_cents").asInstanceOf[Long]))
      },
      Some("""SELECT o_orderstatus AS status, cast(count(*) AS BIGINT) AS n,
             |  (SELECT cast(count(*) AS BIGINT) FROM orders) AS obs_rows,
             |  (SELECT cast(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             |     AS BIGINT) FROM orders) AS obs_finished,
             |  (SELECT cast(max(cast(round(o_totalprice * 100) AS BIGINT))
             |     AS BIGINT) FROM orders) AS obs_max_cents
             |FROM orders GROUP BY 1""".stripMargin)),

    // RANGE-PARTITIONED WRITE LAYOUT: repartitionByRange on the date key
    // before writing produces files with DISJOINT key ranges — the
    // layout that lets min/max file statistics prune a time-range scan
    // to the few files that matter. Proven from the written files
    // themselves (per-file min/max day via input_file_name, overlap
    // pairs counted — must be zero); global extent and row count pin the
    // data. Range boundaries come from sampling, so per-file extents may
    // vary run to run — the DISJOINTNESS is the invariant, and is what
    // the oracle checks.
    Q("range_partitioned_layout",
      (s, dir) => {
        val base = DvQueries.tmpWarehouse("graft_rangepart") + "/orders_ranged"
        rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("od"))
          .withColumn("day", to_date(col("od")))
          .repartitionByRange(8, col("day"))
          .write.mode("overwrite").parquet(base)
        val perFile = s.read.parquet(base)
          .groupBy(input_file_name().as("f"))
          .agg(min("day").as("lo"), max("day").as("hi"), count(lit(1)).as("n"))
        val files = perFile.select(col("f"), col("lo"), col("hi"))
        val overlaps = files.as("a").join(files.as("b"),
            col("a.f") < col("b.f") &&
              col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
          .agg(count(lit(1)).as("overlapping_pairs"))
        perFile.agg(count(lit(1)).as("n_files"), sum("n").as("n_rows"),
            min("lo").as("min_day"), max("hi").as("max_day"))
          .crossJoin(broadcast(overlaps))
          .select(col("n_files"), col("n_rows"), col("min_day"), col("max_day"),
            col("overlapping_pairs"))
      },
      Some("""SELECT cast(8 AS BIGINT) AS n_files,
             |  cast(count(*) AS BIGINT) AS n_rows,
             |  min(cast(o_orderdate AS DATE)) AS min_day,
             |  max(cast(o_orderdate AS DATE)) AS max_day,
             |  cast(0 AS BIGINT) AS overlapping_pairs
             |FROM orders""".stripMargin)),

    // EMPTY-INPUT SEMANTICS — the aggregate-over-nothing corners: a
    // GLOBAL aggregate over zero rows returns ONE row (count 0, sums
    // NULL), a GROUPED aggregate returns ZERO rows, and coalesce
    // defaults apply after, not before. Pipelines hit this on quiet
    // partitions and empty deltas; both engines must agree or
    // incremental logic double-counts.
    Q("empty_input_semantics",
      (s, dir) => {
        val none = rd(s, dir, "orders").filter(col("o_orderkey") < 0)
        val global = none.agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice")).as("s"), max(col("o_orderdate")).as("m"))
        val grouped = none.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n")).agg(count(lit(1)).as("grouped_rows"))
        global.crossJoin(broadcast(grouped))
          .select(col("cnt").as("global_count"),
            col("s").isNull.as("sum_is_null"),
            col("m").isNull.as("max_is_null"),
            coalesce(col("s"), lit(0.0)).as("sum_defaulted"),
            col("grouped_rows"))
      },
      Some("""SELECT
             |  (SELECT cast(count(*) AS BIGINT) FROM orders WHERE o_orderkey < 0)
             |    AS global_count,
             |  (SELECT sum(o_totalprice) IS NULL FROM orders WHERE o_orderkey < 0)
             |    AS sum_is_null,
             |  (SELECT max(o_orderdate) IS NULL FROM orders WHERE o_orderkey < 0)
             |    AS max_is_null,
             |  (SELECT coalesce(sum(o_totalprice), 0.0) FROM orders
             |   WHERE o_orderkey < 0) AS sum_defaulted,
             |  (SELECT cast(count(*) AS BIGINT) FROM (
             |     SELECT o_orderstatus FROM orders WHERE o_orderkey < 0
             |     GROUP BY 1)) AS grouped_rows""".stripMargin)),

    // GROUPING SETS with grouping_id: three explicit aggregation levels
    // (by status, by priority, grand total) in ONE pass — the engine
    // expands the sets over a single shuffle instead of three scans —
    // with grouping_id() disambiguating which level each row belongs to
    // (the NULL a grouping set introduces vs a NULL in the data).
    Q("grouping_sets_id",
      (s, dir) => {
        rd(s, dir, "orders").createOrReplaceTempView("graft_gs_orders")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  cast(grouping__id AS INT) AS gid,
                |  count(*) AS n,
                |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                |    AS cents
                |FROM graft_gs_orders
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
                |""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  cast(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
             |  cast(count(*) AS BIGINT) AS n,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // STRING-FUNCTION CONFORMANCE: the normalization toolkit
    // (lower/translate/lpad/reverse/split/levenshtein) applied to
    // customer names with every derived metric pinned cross-engine —
    // the functions entity resolution and text cleaning lean on, where
    // engine-specific edge behavior (padding, empty splits, distance on
    // equal strings) silently skews match rates.
    Q("string_functions_conformance",
      (s, dir) => {
        rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .withColumn("norm", translate(lower(col("c_name")), "#", "-"))
          .withColumn("padded", lpad(col("c_custkey").cast("string"), 10, "0"))
          .withColumn("toks", split(col("c_name"), "#"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("norm"))).as("norm_len_sum"),
            sum(when(col("norm") === reverse(reverse(col("norm"))), 1L)
              .otherwise(0L)).as("reverse_involution"),
            sum(levenshtein(col("c_name"), col("norm"))).as("lev_sum"),
            sum(size(col("toks"))).as("tok_count"),
            sum(length(col("padded"))).as("padded_len_sum"))
      },
      Some("""SELECT c_mktsegment AS segment, cast(count(*) AS BIGINT) AS n,
             |  cast(sum(length(translate(lower(c_name), '#', '-'))) AS BIGINT)
             |    AS norm_len_sum,
             |  cast(count(*) AS BIGINT) AS reverse_involution,
             |  cast(sum(levenshtein(c_name, translate(lower(c_name), '#', '-')))
             |    AS BIGINT) AS lev_sum,
             |  cast(sum(len(string_split(c_name, '#'))) AS BIGINT) AS tok_count,
             |  cast(sum(length(lpad(CAST(c_custkey AS VARCHAR), 10, '0')))
             |    AS BIGINT) AS padded_len_sum
             |FROM customer GROUP BY 1""".stripMargin)),

    // REGEX CONFORMANCE on the Java-regex ∩ RE2 subset (\d-classes,
    // quantifiers, groups, anchors): extract-group, replace — Spark
    // replaces ALL matches by default where DuckDB needs the explicit
    // 'g' flag (the classic silent divergence) — match-count via
    // regexp_count vs len(regexp_extract_all), and an anchored rlike.
    Q("regexp_conformance",
      (s, dir) => {
        rd(s, dir, "customer")
          .filter(col("c_custkey") % 37 === 0)
          .select(col("c_custkey"),
            regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
            regexp_replace(col("c_name"), "0+", "0").as("collapsed"),
            expr("regexp_count(c_name, '0{2,}')").cast("long")
              .as("n_zero_runs"),
            col("c_name").rlike("^Customer#[0-9]+$").as("canonical_form"))
      },
      Some("""SELECT c_custkey,
             |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
             |  regexp_replace(c_name, '0+', '0', 'g') AS collapsed,
             |  cast(len(regexp_extract_all(c_name, '0{2,}')) AS BIGINT)
             |    AS n_zero_runs,
             |  regexp_matches(c_name, '^Customer#[0-9]+$') AS canonical_form
             |FROM customer WHERE c_custkey % 37 = 0""".stripMargin)),

    // BITWISE CONFORMANCE: &, |, xor, shifts, bit_count over the key
    // domain — the primitives hash partitioners and bloom/bitmap code
    // are built on. Spark SQL's `^` IS xor but DuckDB's `^` is POWER
    // (the divergence that motivates pinning these): the oracle spells
    // xor() by name. Mod-masked inputs keep every value in int range.
    Q("bitwise_conformance",
      (s, dir) => {
        rd(s, dir, "orders")
          .select((col("o_orderkey") % 65536).as("x"))
          .select(
            sum(col("x").bitwiseAND(lit(255L))).as("sum_and"),
            sum(col("x").bitwiseOR(lit(4096L))).as("sum_or"),
            sum(col("x").bitwiseXOR(lit(1023L))).as("sum_xor"),
            sum(shiftleft(col("x"), 3)).as("sum_shl"),
            sum(shiftright(col("x"), 2)).as("sum_shr"),
            sum(bit_count(col("x")).cast("long")).as("sum_popcount"))
      },
      Some("""WITH o AS (SELECT o_orderkey % 65536 AS x FROM orders)
             |SELECT cast(sum(x & 255) AS BIGINT) AS sum_and,
             |  cast(sum(x | 4096) AS BIGINT) AS sum_or,
             |  cast(sum(xor(x, 1023)) AS BIGINT) AS sum_xor,
             |  cast(sum(x << 3) AS BIGINT) AS sum_shl,
             |  cast(sum(x >> 2) AS BIGINT) AS sum_shr,
             |  cast(sum(bit_count(x)) AS BIGINT) AS sum_popcount
             |FROM o""".stripMargin)),

    // ANSI-SAFE ARITHMETIC: this engine runs ANSI mode (overflow and bad
    // casts THROW — silently-wrong numbers don't ship); the try_ family
    // is the explicit opt-out that returns NULL instead. Pinned: bad
    // casts null out, zero denominators null out (and are countable),
    // long-overflow multiplies null out — the dirty-feed arithmetic
    // contract.
    Q("ansi_safe_arithmetic",
      (s, dir) => {
        rd(s, dir, "orders")
          .withColumn("maybe_num",
            when(col("o_orderkey") % 7 === 0, lit("oops"))
              .otherwise(col("o_orderkey").cast("string")))
          .withColumn("den", col("o_orderkey") % 5)
          .select(
            expr("try_cast(maybe_num AS BIGINT)").as("casted"),
            expr("try_divide(o_totalprice, den)").as("divided"),
            // overflow on ~9% of rows, not all: a caught ArithmeticException
            // per row is the real unit cost of try_* on failing input
            // (measured 2.7 s for a 150k-row aggregate when EVERY row threw)
            expr("""try_multiply(o_orderkey + 2, CASE WHEN o_orderkey % 11 = 0
                   |  THEN 9223372036854775807L ELSE 1000000L END)"""
              .stripMargin).as("overflowed"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("casted").isNull, 1L).otherwise(0L)).as("n_bad_casts"),
            sum(when(col("divided").isNull, 1L).otherwise(0L)).as("n_div_zero"),
            sum(when(col("overflowed").isNull, 1L).otherwise(0L)).as("n_overflow"),
            sum(col("casted")).as("casted_sum"))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(CASE WHEN TRY_CAST(CASE WHEN o_orderkey % 7 = 0
             |    THEN 'oops' ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT)
             |    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_casts,
             |  cast(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_div_zero,
             |  cast(sum(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_overflow,
             |  cast(sum(TRY_CAST(CASE WHEN o_orderkey % 7 = 0
             |    THEN 'oops' ELSE CAST(o_orderkey AS VARCHAR) END AS BIGINT))
             |    AS BIGINT) AS casted_sum
             |FROM orders""".stripMargin)),

    // INTERVAL RANGE FRAME: trailing-7-day revenue per day via RANGE
    // BETWEEN INTERVAL ... PRECEDING — the time-based frame ROWS can't
    // express (gaps in the date spine must still count calendar days).
    // Computed over the per-day PRE-AGGREGATE (frame partitions hold one
    // row per day, so the non-codegen range frame touches O(days), never
    // raw orders — the posture the BENCHNOTES range-frame lesson
    // demands). Exact cents in the frame sum.
    Q("range_interval_window",
      (s, dir) => {
        rd(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .groupBy(to_date(col("o_orderdate")).as("d"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_riw_daily")
        // cast(... AS DOUBLE) before the division: a bare `/ 100.0` promotes
        // BIGINT through Spark's DECIMAL literal typing to DECIMAL(24,2),
        // which the driver's exact type-sensitive hash fails against the
        // oracle's DOUBLE (round-6 red row)
        s.sql("""SELECT d,
                |  round(cast(cents AS DOUBLE) / 100.0, 2) AS day_revenue,
                |  round(cast(sum(cents) OVER (
                |    ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                |    AND CURRENT ROW) AS DOUBLE) / 100.0, 2)
                |    AS trailing_7d_revenue
                |FROM graft_riw_daily""".stripMargin)
      },
      Some("""WITH daily AS (
             |  SELECT cast(o_orderdate AS DATE) AS d,
             |    sum(cast(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
             |SELECT d,
             |  round(cast(cents AS DOUBLE) / 100.0, 2) AS day_revenue,
             |  round(cast(sum(cents) OVER (
             |    ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
             |    AND CURRENT ROW) AS DOUBLE) / 100.0, 2)
             |    AS trailing_7d_revenue
             |FROM daily""".stripMargin)),

    // ROLLING EXACT MEDIAN over the interval frame: the order-statistic
    // sibling of range_interval_window's rolling sum — medians don't
    // partial-aggregate, so the frame materializes as a bounded
    // collect_list (≤7 elements by construction) over the same
    // one-row-per-day pre-aggregate, sorted and picked exactly
    // (even-count frames average the two middles, as quantile_cont(0.5)
    // does). Exact integer cents in, one division out.
    Q("rolling_median_7d",
      (s, dir) => {
        rd(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .groupBy(to_date(col("o_orderdate")).as("d"))
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .createOrReplaceTempView("graft_rm_daily")
        s.sql("""SELECT d, round(CASE WHEN size(fr) % 2 = 1
                |    THEN cast(fr[size(fr) DIV 2] AS DOUBLE)
                |    ELSE (fr[size(fr) DIV 2 - 1] + fr[size(fr) DIV 2]) / 2.0
                |  END / 100.0, 4) AS rolling_median_revenue
                |FROM (
                |  SELECT d, sort_array(collect_list(cents) OVER (
                |    ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                |    AND CURRENT ROW)) AS fr
                |  FROM graft_rm_daily)""".stripMargin)
      },
      Some("""WITH daily AS (
             |  SELECT cast(o_orderdate AS DATE) AS d,
             |    sum(cast(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
             |SELECT d, round(median(cents) OVER (
             |    ORDER BY d RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
             |    AND CURRENT ROW) / 100.0, 4) AS rolling_median_revenue
             |FROM daily""".stripMargin)),

    // ARRAY SET-OPERATION conformance: intersect/except/union of per-order
    // line-number sets — the jaccard queries use set-op SIZES, this pins
    // the RESULT SETS themselves. Arrays are built as sets (collect_set /
    // FILTERed DISTINCT list), sorted, and serialized to CSV strings:
    // element order and dedup policy are exactly the cross-engine
    // divergences, and string serialization keeps the compare away from
    // engine-specific array encodings.
    Q("array_setops_conformance",
      (s, dir) => {
        def csv(c: Column): Column =
          concat_ws(",", sort_array(c).cast("array<string>"))
        rd(s, dir, "lineitem")
          .filter(col("l_orderkey") % 97 === 0)
          .groupBy(col("l_orderkey"))
          .agg(
            collect_set(when(col("l_returnflag") === "R",
              col("l_linenumber").cast("long"))).as("a"),
            collect_set(when(col("l_quantity") > 25,
              col("l_linenumber").cast("long"))).as("b"))
          .select(col("l_orderkey"), csv(col("a")).as("set_a"),
            csv(col("b")).as("set_b"),
            csv(array_intersect(col("a"), col("b"))).as("a_and_b"),
            csv(array_except(col("a"), col("b"))).as("a_minus_b"),
            csv(array_union(col("a"), col("b"))).as("a_or_b"))
      },
      Some("""WITH sets AS (
             |  SELECT l_orderkey,
             |    -- list(...) FILTER over zero rows is NULL, Spark's
             |    -- collect_set is an empty array: normalize to []
             |    coalesce(list_sort(list(DISTINCT cast(l_linenumber AS BIGINT))
             |      FILTER (WHERE l_returnflag = 'R')), []) AS a,
             |    coalesce(list_sort(list(DISTINCT cast(l_linenumber AS BIGINT))
             |      FILTER (WHERE l_quantity > 25)), []) AS b
             |  FROM lineitem WHERE l_orderkey % 97 = 0 GROUP BY 1)
             |SELECT l_orderkey,
             |  -- array_to_string([]) is NULL in DuckDB, '' in Spark's
             |  -- concat_ws: normalize the rendering too
             |  coalesce(array_to_string(a, ','), '') AS set_a,
             |  coalesce(array_to_string(b, ','), '') AS set_b,
             |  coalesce(array_to_string(list_sort(list_intersect(a, b)), ','),
             |    '') AS a_and_b,
             |  coalesce(array_to_string(list_sort(list_filter(a,
             |    x -> NOT list_contains(b, x))), ','), '') AS a_minus_b,
             |  coalesce(array_to_string(list_sort(list_distinct(
             |    list_concat(a, b))), ','), '') AS a_or_b
             |FROM sets""".stripMargin)),

    // EXPLODE_OUTER semantics: a row whose array is EMPTY must survive
    // the lateral expansion with a NULL element (plain explode drops it —
    // the silent row-loss bug in every "unnest the tags" pipeline).
    // DuckDB's unnest() also drops empty lists, so the oracle expands a
    // [NULL] stand-in for empties — the divergence IS the conformance
    // point being pinned.
    Q("explode_outer_semantics",
      (s, dir) => {
        rd(s, dir, "lineitem")
          .filter(col("l_orderkey") % 199 === 0)
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(when(col("l_quantity") > 45,
            col("l_linenumber").cast("long")))).as("big"))
          .select(col("l_orderkey"), explode_outer(col("big")).as("big_line"))
      },
      Some("""WITH sets AS (
             |  SELECT l_orderkey,
             |    coalesce(list_sort(list(DISTINCT cast(l_linenumber AS BIGINT))
             |      FILTER (WHERE l_quantity > 45)), []) AS big
             |  FROM lineitem WHERE l_orderkey % 199 = 0 GROUP BY 1)
             |SELECT l_orderkey,
             |  unnest(CASE WHEN len(big) = 0 THEN [NULL]::BIGINT[]
             |         ELSE big END) AS big_line
             |FROM sets""".stripMargin)),

    // DATE ARITHMETIC EDGE CONFORMANCE over a leap-year slice: add_months
    // month-end clamping (Jan 31 + 1m → Feb 29), last_day, quarter
    // truncation, and Spark's months_between day-31 convention — the
    // last has NO DuckDB equivalent, so the oracle reimplements the
    // documented rule ((y1−y2)·12 + m1−m2, plus (d1−d2)/31 unless the
    // days match or both are month-ends) against a leap-day anchor:
    // an independent derivation, not an echo.
    Q("date_arith_conformance",
      (s, dir) => {
        rd(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .select(to_date(col("o_orderdate")).as("d")).distinct()
          .select(col("d"),
            add_months(col("d"), 1).as("plus_1m"),
            last_day(col("d")).as("eom"),
            to_date(date_trunc("quarter", col("d"))).as("qstart"),
            round(months_between(col("d"), lit("1996-02-29")), 6)
              .as("mb_from_leap_day"))
      },
      Some("""WITH d AS (
             |  SELECT DISTINCT cast(o_orderdate AS DATE) AS d FROM orders
             |  WHERE year(o_orderdate) = 1996)
             |SELECT d,
             |  cast(d + INTERVAL 1 MONTH AS DATE) AS plus_1m,
             |  last_day(d) AS eom,
             |  cast(date_trunc('quarter', d) AS DATE) AS qstart,
             |  round((year(d) - 1996) * 12 + (month(d) - 2) +
             |    CASE WHEN day(d) = 29 OR d = last_day(d) THEN 0.0
             |         ELSE (day(d) - 29) / 31.0 END, 6) AS mb_from_leap_day
             |FROM d""".stripMargin)),

    // UNION BY NAME with MISSING COLUMNS (schema-drift union): two
    // projections with divergent column sets union by name, absent
    // columns null-filling — Spark's unionByName(allowMissingColumns)
    // against DuckDB's UNION ALL BY NAME. The null-count fingerprint per
    // column pins the fill semantics in one bounded row.
    Q("union_missing_columns",
      (s, dir) => {
        val o = rd(s, dir, "orders")
        val v1 = o.filter(year(col("o_orderdate")) === 1996)
          .select(col("o_orderkey"), col("o_orderpriority"))
        val v2 = o.filter(year(col("o_orderdate")) === 1997)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        v1.unionByName(v2, allowMissingColumns = true)
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_orderpriority")).as("n_priority"),
            count(col("cents")).as("n_cents"),
            sum(col("cents")).as("cents_sum"))
      },
      Some("""WITH u AS (
             |  SELECT o_orderkey, o_orderpriority FROM orders
             |  WHERE year(o_orderdate) = 1996
             |  UNION ALL BY NAME
             |  SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT)
             |    AS cents
             |  FROM orders WHERE year(o_orderdate) = 1997)
             |SELECT cast(count(*) AS BIGINT) AS n_rows,
             |  cast(count(o_orderpriority) AS BIGINT) AS n_priority,
             |  cast(count(cents) AS BIGINT) AS n_cents,
             |  cast(sum(cents) AS BIGINT) AS cents_sum
             |FROM u""".stripMargin)),

    // EXACT PERCENTILE_CONT / PERCENTILE_DISC conformance: both engines
    // must agree on the interpolated continuous percentile AND the
    // discrete pick over integer cents — the disc/cont distinction
    // (nearest actual value vs linear interpolation) is a classic
    // cross-engine divergence. Grouped by priority; 4-dp rounding over
    // arithmetic on exact integers.
    Q("percentile_conformance",
      (s, dir) => {
        rd(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
          .createOrReplaceTempView("graft_pct_orders")
        s.sql("""SELECT o_orderpriority,
                |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)
                |    / 100.0, 4) AS median_cont,
                |  round(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                |    / 100.0, 4) AS median_disc,
                |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY cents)
                |    / 100.0, 4) AS p90_cont
                |FROM graft_pct_orders GROUP BY 1""".stripMargin)
      },
      Some("""WITH o AS (
             |  SELECT o_orderpriority,
             |    cast(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT o_orderpriority,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)
             |    / 100.0, 4) AS median_cont,
             |  round(cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
             |    AS double) / 100.0, 4) AS median_disc,
             |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY cents)
             |    / 100.0, 4) AS p90_cont
             |FROM o GROUP BY 1""".stripMargin)),

    // ORDERED STRING AGGREGATION: deterministic listagg via
    // sort_array(collect_list(...)) + concat_ws against DuckDB's
    // string_agg ... ORDER BY — the reference's LISTAGG WITHIN GROUP
    // shape (H5) at plain query grain. Region-level nation rosters.
    Q("listagg_ordered",
      (s, dir) => {
        rd(s, dir, "nation")
          .groupBy(col("n_regionkey").cast("long").as("region"))
          .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
            .as("nations"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT cast(n_regionkey AS BIGINT) AS region,
             |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |  cast(count(*) AS BIGINT) AS n
             |FROM nation GROUP BY 1""".stripMargin)),

    // SET-OPERATION BAG SEMANTICS: INTERSECT ALL / EXCEPT ALL keep
    // DUPLICATE MULTIPLICITY (min / difference of per-value counts) —
    // subtly different from the DISTINCT forms and from joins, and a
    // classic cross-engine divergence. Both engines run the same bag
    // algebra over order-priority multisets from two year slices; the
    // multiplicity per value is what the compare pins.
    Q("setop_bag_semantics",
      (s, dir) => {
        val a = rd(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1996)
          .filter(col("o_orderkey") % 100 < 3)
          .select(col("o_orderpriority").as("p"))
        val b = rd(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1997)
          .filter(col("o_orderkey") % 100 < 2)
          .select(col("o_orderpriority").as("p"))
        val inter = a.intersectAll(b).groupBy(col("p"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val except = a.exceptAll(b).groupBy(col("p"))
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        inter.unionByName(except)
      },
      Some("""WITH a AS (
             |  SELECT o_orderpriority AS p FROM orders
             |  WHERE year(o_orderdate) = 1996 AND o_orderkey % 100 < 3),
             |b AS (
             |  SELECT o_orderpriority AS p FROM orders
             |  WHERE year(o_orderdate) = 1997 AND o_orderkey % 100 < 2)
             |SELECT p, cast(count(*) AS BIGINT) AS n, 'intersect_all' AS op
             |FROM (SELECT p FROM a INTERSECT ALL SELECT p FROM b)
             |GROUP BY 1
             |UNION ALL
             |SELECT p, cast(count(*) AS BIGINT) AS n, 'except_all' AS op
             |FROM (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
             |GROUP BY 1""".stripMargin)),

    // LATERAL correlated subquery (SQL surface): top-2 most expensive
    // orders PER customer via LATERAL ... ORDER BY/LIMIT — the SQL form
    // of a per-key top-k. Spark decorrelates the lateral into a
    // partitioned window/join under the hood; DuckDB executes the same
    // text natively. Restricted to a customer slice so the output stays
    // bounded; exact-cents ordering with an orderkey tiebreak keeps the
    // LIMIT deterministic.
    Q("lateral_topk",
      (s, dir) => {
        rd(s, dir, "customer").createOrReplaceTempView("graft_lat_cust")
        rd(s, dir, "orders").createOrReplaceTempView("graft_lat_ord")
        // cast before `/ 100.0` — see range_interval_window note
        s.sql("""SELECT c.c_custkey, t.o_orderkey,
                |  round(cast(t.cents AS DOUBLE) / 100.0, 2) AS price
                |FROM graft_lat_cust c,
                |LATERAL (
                |  SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT) AS cents
                |  FROM graft_lat_ord o
                |  WHERE o.o_custkey = c.c_custkey
                |  ORDER BY cents DESC, o_orderkey
                |  LIMIT 2) t
                |WHERE c.c_custkey % 50 = 0""".stripMargin)
      },
      Some("""SELECT c.c_custkey, t.o_orderkey,
             |  round(cast(t.cents AS DOUBLE) / 100.0, 2) AS price
             |FROM customer c,
             |LATERAL (
             |  SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders o
             |  WHERE o.o_custkey = c.c_custkey
             |  ORDER BY cents DESC, o_orderkey
             |  LIMIT 2) t
             |WHERE c.c_custkey % 50 = 0""".stripMargin)),

    // Case-insensitive COLLATION semantics (Spark 4 collated strings vs
    // DuckDB COLLATE NOCASE): grouping under UTF8_LCASE merges case
    // variants of the same segment; ordering under the collation sorts by
    // the case-folded value (binary tiebreak keeps ranks deterministic).
    // The collated column itself never reaches the output — the group is
    // reported as min(lower(v)) (constant within a case-insensitive
    // group) and ranks as BIGINT — so the parquet/oracle surface stays
    // collation-free. ASCII-only input keeps Spark's UTF8_LCASE
    // (case-fold + binary) and DuckDB's ICU NOCASE in agreement.
    Q("collation_conformance",
      (s, dir) => {
        val mixed = rd(s, dir, "customer")
          .withColumn("variant", expr(
            """CASE c_custkey % 3
              |  WHEN 0 THEN lower(c_mktsegment)
              |  WHEN 1 THEN c_mktsegment
              |  ELSE upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
              |END""".stripMargin))
        val grouped = mixed
          .groupBy(collate(col("variant"), "UTF8_LCASE").as("k"))
          .agg(min(lower(col("variant"))).as("segment"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("variant")).as("n_case_variants"))
          .drop("k")
        import org.apache.spark.sql.expressions.Window
        grouped
          .withColumn("lcase_rank", row_number().over(
            Window.orderBy(collate(col("segment"), "UTF8_LCASE"), col("segment")))
            .cast("long"))
          .orderBy("segment")
      },
      Some("""WITH mixed AS (
             |  SELECT CASE c_custkey % 3
             |    WHEN 0 THEN lower(c_mktsegment)
             |    WHEN 1 THEN c_mktsegment
             |    ELSE upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2))
             |  END AS variant
             |  FROM customer),
             |grouped AS (
             |  SELECT min(lower(variant)) AS segment,
             |    cast(count(*) AS BIGINT) AS n_rows,
             |    cast(count(DISTINCT variant) AS BIGINT) AS n_case_variants
             |  FROM mixed
             |  GROUP BY variant COLLATE NOCASE)
             |SELECT segment, n_rows, n_case_variants,
             |  cast(row_number() OVER (ORDER BY segment COLLATE NOCASE, segment)
             |    AS BIGINT) AS lcase_rank
             |FROM grouped ORDER BY segment""".stripMargin)),

    // DELTA OPTIMIZE (bin-pack compaction): the full maintenance
    // lifecycle on a partitioned interop table — 3 small-file appends, a
    // DV delete, then OPTIMIZE (dataChange=false rewrite that PURGES the
    // deletion vectors), then VACUUM reclaiming the tombstoned originals
    // and the superseded DV file. Pinned: values unchanged through all of
    // it (the oracle never sees maintenance), exactly one file per
    // partition after (the repartition(parts, partCols) route), no DV
    // survives the rewrite, the incremental reader sees an EMPTY delta
    // for the OPTIMIZE version (dataChange=false is skipped whole), and
    // vacuum physically deletes something.
    Q("delta_optimize_compact",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_opt")
        val tbl = s"$wh/orders_opt"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        (0 until 3).foreach(i =>
          DeltaWrite.write(o.filter(col("o_orderkey") % 3 === i), tbl,
            Seq("o_orderpriority")))                                  // v0-v2
        DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 7 === 0)   // v3
        val (before, after) = DeltaWrite.optimize(s, tbl)             // v4
        val snap = DeltaRead.snapshot(tbl)
        val nParts = snap.files.map(_.partitionValues).distinct.size
        val dvPurged = snap.files.forall(_.deletionVector.isEmpty)
        val appendsEmpty = DeltaRead.readAppends(s, tbl, 3, 4).isEmpty
        val reclaimed = DeltaWrite.vacuum(s, tbl) > 0
        DeltaRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("one_file_per_partition", lit(after == nParts))
          .withColumn("compacted_fewer", lit(after < before))
          .withColumn("dv_purged", lit(dvPurged))
          .withColumn("optimize_invisible_to_appends", lit(appendsEmpty))
          .withColumn("vacuum_reclaimed", lit(reclaimed))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS one_file_per_partition, TRUE AS compacted_fewer,
             |  TRUE AS dv_purged, TRUE AS optimize_invisible_to_appends,
             |  TRUE AS vacuum_reclaimed
             |FROM orders WHERE o_orderkey % 7 <> 0
             |GROUP BY 1""".stripMargin)),

    // DELTA OPTIMIZE ZORDER: multi-dimensional clustering on an
    // unpartitioned interop table. Four key-interleaved appends leave
    // every file spanning the full custkey range (a custkey probe scans
    // everything); the z-order rewrite interleaves (o_orderkey,
    // o_custkey) bits through the DETERMINISTIC ZCluster layout, after
    // which add.stats prune a bottom-decile custkey probe. Pinned the
    // delta_stats_skipping way: scanned == the stats arithmetic's own
    // prediction, and the prediction actually prunes (layout is
    // run-invariant, so the booleans cannot flake).
    Q("delta_optimize_zorder",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_zopt")
        val tbl = s"$wh/orders_zopt"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        (0 until 4).foreach(i =>
          DeltaWrite.write(o.filter(col("o_orderkey") % 4 === i), tbl))
        val liveBytes = DeltaRead.snapshot(tbl).files.map(_.size).sum
        val (_, after) = DeltaWrite.optimize(s, tbl,
          targetFileBytes = math.max(1L, liveBytes / 8),
          zorderBy = Seq("o_orderkey", "o_custkey"))
        val snap = DeltaRead.snapshot(tbl)
        val cutoff = o.agg(max(col("o_custkey"))).head().getLong(0) / 10L
        val filtered = DeltaRead.read(s, tbl).filter(col("o_custkey") <= cutoff)
        val predicted = snap.files.count(_.stats.exists(st =>
          st.min.get("o_custkey").exists(_.asLong <= cutoff))).toLong
        val scanned = filtered.select(input_file_name()).distinct().count()
        filtered
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("scanned_eq_predicted", lit(scanned == predicted))
          .withColumn("zorder_pruned", lit(predicted < after.toLong))
      },
      Some("""SELECT cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS scanned_eq_predicted, TRUE AS zorder_pruned
             |FROM orders
             |WHERE o_custkey <= (SELECT cast(floor(max(o_custkey) / 10.0) AS BIGINT)
             |                    FROM orders)""".stripMargin)),

    // DELTA MERGE (upsert): WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED
    // INSERT * — the statement the reference's incremental runs compile
    // to on Databricks, as a copy-on-write rewrite. Base = even
    // orderkeys in 4 key-range-clustered commits; source = every %3==0
    // key in the BOTTOM QUARTILE with a +1000 price marker (matched ⇒
    // update, odd ⇒ insert). Pinned: final state values (the oracle
    // recomputes the upsert arithmetic), stats-pruned file economy (the
    // three upper-quartile commits are never rewritten — their files
    // survive the merge untouched), and the CDF feed: pre/post images
    // for matched keys, inserts for new ones, carried rows NEVER in the
    // feed.
    Q("delta_merge_upsert",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_merge")
        val tbl = s"$wh/orders_merge"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val cutoff = maxKey / 4L
        val base = o.filter(col("o_orderkey") % 2 === 0)
        // 4 key-range-clustered commits -> add.stats carry disjoint key
        // intervals, so the source's bounded keys prune 3 of them
        val qStep = maxKey / 4L + 1L
        (0L until 4L).foreach(i =>
          DeltaWrite.write(base.filter(col("o_orderkey") >= i * qStep &&
            col("o_orderkey") < (i + 1) * qStep), tbl))              // v0-v3
        DeltaWrite.setProperties(s, tbl,
          Map("delta.enableChangeDataFeed" -> "true"))               // v4
        val source = o.filter(col("o_orderkey") % 3 === 0 &&
            col("o_orderkey") <= cutoff)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val beforePaths = DeltaRead.snapshot(tbl).files.map(_.path).toSet
        val v = DeltaWrite.merge(s, tbl, source, Seq("o_orderkey"))  // v5
        val afterPaths = DeltaRead.snapshot(tbl).files.map(_.path).toSet
        val untouchedSurvive = (beforePaths intersect afterPaths).nonEmpty
        val feed = DeltaRead.readChangeFeed(s, tbl, v - 1, v)
        val feedAgg = feed.groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        DeltaRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("change_type", lit("_state"))
          .select(col("change_type"), col("priority"), col("n_orders"),
            col("total_cents"))
          .unionByName(feedAgg
            .select(col("change_type"), lit("_feed").as("priority"),
              col("n_rows").as("n_orders"), col("cents").as("total_cents")))
          .withColumn("untouched_files_survive", lit(untouchedSurvive))
      },
      Some("""WITH params AS (
             |  SELECT cast(floor(max(o_orderkey) / 4.0) AS BIGINT) AS cutoff
             |  FROM orders),
             |src AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice + 1000 AS o_totalprice,
             |         o_orderpriority
             |  FROM orders, params
             |  WHERE o_orderkey % 3 = 0 AND o_orderkey <= cutoff),
             |final AS (
             |  SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderpriority
             |  FROM orders o, params
             |  WHERE o.o_orderkey % 2 = 0
             |    AND NOT (o.o_orderkey % 3 = 0 AND o.o_orderkey <= cutoff)
             |  UNION ALL
             |  SELECT * FROM src)
             |SELECT '_state' AS change_type, o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS untouched_files_survive
             |FROM final GROUP BY 2
             |UNION ALL
             |SELECT 'update_preimage', '_feed', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders, params
             |WHERE o_orderkey % 6 = 0 AND o_orderkey <= cutoff
             |UNION ALL
             |SELECT 'update_postimage', '_feed', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round((o_totalprice + 1000) * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders, params
             |WHERE o_orderkey % 6 = 0 AND o_orderkey <= cutoff
             |UNION ALL
             |SELECT 'insert', '_feed', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round((o_totalprice + 1000) * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders, params
             |WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 = 1
             |  AND o_orderkey <= cutoff""".stripMargin)),

    // ICEBERG SNAPSHOT EXPIRATION: the other format's physical-reclaim
    // op ([[DeltaWrite.vacuum]]'s counterpart — Iceberg has no tombstone
    // list; TIME TRAVEL is what holds old files live, so expiry is what
    // releases them). History: append evens, OVERWRITE with odds
    // (status-2s every even file — but snapshot 1 still serves them),
    // append a third slice. expireSnapshots(keepLast=1) must drop
    // snapshots 1-2, physically delete the even-key data files (now
    // unreachable), keep every live file, and turn time travel to the
    // expired snapshot into a loud reject. Values after expiry are
    // pinned against the oracle's recomputation of the final state.
    Q("iceberg_expire_snapshots",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_expire")
        val tbl = s"$wh/customer_expire"
        val c = rd(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        IcebergWrite.write(c.filter(col("c_custkey") % 2 === 0), tbl) // s1
        IcebergWrite.write(c.filter(col("c_custkey") % 2 === 1), tbl,
          mode = "overwrite")                                         // s2
        IcebergWrite.write(c.filter(col("c_custkey") % 2 === 0 &&
          col("c_custkey") % 3 === 0), tbl)                           // s3
        val deleted = IcebergWrite.expireSnapshots(tbl, keepLast = 1)
        val expiredRejected =
          try { IcebergRead.snapshotAt(tbl, 1L); false }
          catch { case _: Exception => true }
        val liveIntact = IcebergRead.snapshot(tbl).files.forall(f =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(f.path)))
        IcebergRead.read(s, tbl)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_cust"),
            sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
          .withColumn("files_reclaimed", lit(deleted > 0))
          .withColumn("expired_time_travel_rejected", lit(expiredRejected))
          .withColumn("live_files_intact", lit(liveIntact))
      },
      Some("""SELECT c_mktsegment AS segment,
             |  cast(count(*) AS BIGINT) AS n_cust,
             |  cast(sum(cast(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             |    AS bal_cents,
             |  TRUE AS files_reclaimed, TRUE AS expired_time_travel_rejected,
             |  TRUE AS live_files_intact
             |FROM customer
             |WHERE c_custkey % 2 = 1 OR (c_custkey % 2 = 0 AND c_custkey % 3 = 0)
             |GROUP BY 1""".stripMargin)),

    // ICEBERG COMPACTION (rewriteDataFiles): the MoR-debt payoff cycle —
    // 3 small-file appends, a position-delete, then a MATERIALIZING
    // rewrite (deletes folded into clean files and DROPPED from the new
    // snapshot — a 100 TB MoR table schedules exactly this), then
    // snapshot expiry physically reclaiming the superseded originals +
    // delete file. Pinned: values unchanged through the whole cycle, one
    // file per partition tuple after, zero delete files after, expiry
    // reclaims > 0, pre-compaction time travel still served before
    // expiry.
    Q("iceberg_rewrite_compact",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_rewrite")
        val tbl = s"$wh/orders_rw"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        (0 until 3).foreach(i =>
          IcebergWrite.write(o.filter(col("o_orderkey") % 3 === i), tbl,
            Seq("o_orderpriority")))                                  // s1-s3
        IcebergWrite.deleteWhere(s, tbl, col("o_orderkey") % 7 === 0) // s4
        val preCount = IcebergRead.read(s, tbl).count()
        val (before, after) = IcebergWrite.rewriteDataFiles(s, tbl)   // s5
        val snap = IcebergRead.snapshot(tbl)
        val nParts = snap.files.map(_.partitionValues).distinct.size
        val travelOk = IcebergRead.readAt(s, tbl, 4L).count() == preCount
        val reclaimed = IcebergWrite.expireSnapshots(tbl, keepLast = 1) > 0
        IcebergRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("one_file_per_partition", lit(after == nParts))
          .withColumn("compacted_fewer", lit(after < before))
          .withColumn("deletes_dropped", lit(snap.deletes.isEmpty))
          .withColumn("travel_served_before_expiry", lit(travelOk))
          .withColumn("expiry_reclaimed", lit(reclaimed))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS one_file_per_partition, TRUE AS compacted_fewer,
             |  TRUE AS deletes_dropped, TRUE AS travel_served_before_expiry,
             |  TRUE AS expiry_reclaimed
             |FROM orders WHERE o_orderkey % 7 <> 0
             |GROUP BY 1""".stripMargin)),

    // ICEBERG MERGE (upsert): the other format's copy-on-write upsert,
    // same 3-job shape as delta_merge_upsert — manifest column bounds
    // prune the 3 upper-quartile commits (their files survive the merge
    // untouched), the semi-join finds exactly-touched files, carried
    // rows + all source rows rewrite in one distributed pass. The oracle
    // recomputes the upsert arithmetic from `orders`.
    Q("iceberg_merge_upsert",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_merge")
        val tbl = s"$wh/orders_merge"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val cutoff = maxKey / 4L
        val base = o.filter(col("o_orderkey") % 2 === 0)
        val qStep = maxKey / 4L + 1L
        (0L until 4L).foreach(i =>
          IcebergWrite.write(base.filter(col("o_orderkey") >= i * qStep &&
            col("o_orderkey") < (i + 1) * qStep), tbl))              // s1-s4
        val source = o.filter(col("o_orderkey") % 3 === 0 &&
            col("o_orderkey") <= cutoff)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        val beforePaths = IcebergRead.snapshot(tbl).files.map(_.path).toSet
        IcebergWrite.merge(s, tbl, source, Seq("o_orderkey"))        // s5
        val afterPaths = IcebergRead.snapshot(tbl).files.map(_.path).toSet
        val untouchedSurvive = (beforePaths intersect afterPaths).nonEmpty
        IcebergRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("untouched_files_survive", lit(untouchedSurvive))
      },
      Some("""WITH params AS (
             |  SELECT cast(floor(max(o_orderkey) / 4.0) AS BIGINT) AS cutoff
             |  FROM orders),
             |final AS (
             |  SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority
             |  FROM orders o, params
             |  WHERE o.o_orderkey % 2 = 0
             |    AND NOT (o.o_orderkey % 3 = 0 AND o.o_orderkey <= cutoff)
             |  UNION ALL
             |  SELECT o_orderkey, o_totalprice + 1000, o_orderpriority
             |  FROM orders, params
             |  WHERE o_orderkey % 3 = 0 AND o_orderkey <= cutoff)
             |SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS untouched_files_survive
             |FROM final GROUP BY 1""".stripMargin)),

    // RESTORE / ROLLBACK — the undo half of the maintenance story on
    // both formats. Delta: RESTORE TO VERSION is a data-change commit
    // re-adding dropped files / removing since-added ones (here it
    // un-does a DV delete; the restored-over version stays
    // time-travelable). Iceberg: rollback_to_snapshot is METADATA-ONLY
    // (current-snapshot-id repointed, zero file IO), and the next write
    // must take a FRESH snapshot id — current+1 would collide with the
    // rolled-over lineage. Values after each undo are oracle-recomputed;
    // history-preservation and the Iceberg post-rollback append ride as
    // pinned groups.
    Q("interop_restore_rollback",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite, IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_restore")
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val dt = s"$wh/orders_restore"
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), dt)     // v0
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), dt)        // v1
        DeltaWrite.deleteWhere(s, dt, col("o_orderkey") % 5 === 0)      // v2
        val v2Count = DeltaRead.read(s, dt).count()
        DeltaWrite.restore(s, dt, 1L)                                   // v3
        val historyOk = DeltaRead.readAt(s, dt, 2L).count() == v2Count
        val delta = DeltaRead.read(s, dt).withColumn("fmt", lit("delta"))

        val it = s"$wh/orders_rollback"
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 0), it)   // s1
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1), it,
          mode = "overwrite")                                           // s2
        IcebergWrite.rollback(it, 1L)
        val sid = IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderkey") % 3 === 0), it)                             // s3
        val freshId = sid == 3L
        val ice = IcebergRead.read(s, it).withColumn("fmt", lit("iceberg"))

        delta.unionByName(ice)
          .groupBy(col("fmt"), col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("delta_history_preserved", lit(historyOk))
          .withColumn("iceberg_fresh_id_after_rollback", lit(freshId))
      },
      Some("""WITH u AS (
             |  SELECT 'delta' AS fmt, o_orderkey, o_totalprice, o_orderpriority
             |  FROM orders
             |  WHERE o_orderkey % 2 = 0
             |     OR (o_orderkey % 2 = 1 AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |  UNION ALL
             |  SELECT 'iceberg', o_orderkey, o_totalprice, o_orderpriority
             |  FROM orders
             |  WHERE o_orderkey % 2 = 0
             |     OR (o_orderkey % 2 = 1 AND o_orderkey % 3 = 0))
             |SELECT fmt, o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS delta_history_preserved,
             |  TRUE AS iceberg_fresh_id_after_rollback
             |FROM u GROUP BY 1, 2""".stripMargin)),

    // ICEBERG CHANGELOG READ: the other format's row-level change
    // capture (IcebergRead.readChanges — delta_change_feed's sibling,
    // but derived from MANIFEST deltas + declared operations instead of
    // cdc files). 5-snapshot history: two appends, a MoR position
    // delete (feed = exactly the suppressed rows), a materializing
    // compaction (operation=replace — the feed must stay SILENT), and a
    // full overwrite (deletes = the state visible before it — the
    // already-deleted %5 rows must NOT re-emit — plus the new slice's
    // inserts). Oracle recomputes every (snapshot, change_type) group
    // from `orders`; the boolean pins head == net of the feed.
    Q("iceberg_changelog_read",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_changelog")
        val tbl = s"$wh/orders_changelog"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl)  // s1
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority").isin("1-URGENT", "5-LOW")), tbl)       // s2
        IcebergWrite.deleteWhere(s, tbl, col("o_orderkey") % 5 === 0)   // s3
        IcebergWrite.rewriteDataFiles(s, tbl)                           // s4
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority") === "2-HIGH" && col("o_orderkey") % 3 === 0),
          tbl, mode = "overwrite")                                      // s5
        val feed = IcebergRead.readChanges(s, tbl, 0L, 5L)
        val ins = feed.filter(col("_change_type") === "insert").count()
        val del = feed.filter(col("_change_type") === "delete").count()
        val headOk = IcebergRead.read(s, tbl).count() == ins - del
        feed.groupBy(col("_snapshot_id").as("snapshot_id"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .withColumn("head_consistent", lit(headOk))
      },
      Some("""WITH s12 AS (
             |  SELECT 1 AS sid, * FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT 2, * FROM orders WHERE o_orderkey % 2 = 1
             |    AND o_orderpriority IN ('1-URGENT', '5-LOW'))
             |SELECT cast(sid AS BIGINT) AS snapshot_id,
             |  'insert' AS change_type, cast(count(*) AS BIGINT) AS n_rows,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS cents, TRUE AS head_consistent
             |FROM s12 GROUP BY 1
             |UNION ALL
             |SELECT 3, 'delete', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM s12 WHERE o_orderkey % 5 = 0
             |UNION ALL
             |SELECT 5, 'delete', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM s12 WHERE o_orderkey % 5 <> 0
             |UNION ALL
             |SELECT 5, 'insert', cast(count(*) AS BIGINT),
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
             |  TRUE
             |FROM orders WHERE o_orderkey % 2 = 1
             |  AND o_orderpriority = '2-HIGH' AND o_orderkey % 3 = 0""".stripMargin)),

    // WRITES ON A COLUMN-MAPPED DELTA TABLE (name mode — the default
    // on new Databricks tables): append, MERGE, and OPTIMIZE all stage
    // in the PHYSICAL column space (files carry physical names, add
    // pv/stats keys are physical — the log contract) while the caller
    // works purely in logical names. Fixture: a mapped orders table
    // (o_* → c1..c4), appended, merged (update evens' price + insert
    // shifted keys), then compacted; the oracle recomputes the final
    // state; booleans pin the physical layout and that optimize
    // changed no logical row.
    Q("delta_mapped_write_lifecycle",
      (s, dir) => {
        import graft.sources.{DeltaFixture, DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_cmw")
        val tbl = s"$wh/orders_cm"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val mapping = Map("o_orderkey" -> "c1", "o_custkey" -> "c2",
          "o_totalprice" -> "c3", "o_orderpriority" -> "c4")
        DeltaFixture.commitMapped(s, tbl, o.schema, Seq("o_orderpriority"),
          0L, mapping,
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
            .map(p => Map("o_orderpriority" -> p) ->
              o.filter(col("o_orderpriority") === p &&
                col("o_orderkey") % 2 === 0)))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1), tbl) // v1
        val m = o.agg(max(col("o_orderkey"))).head().getLong(0)
        DeltaWrite.merge(s, tbl,
          o.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2)
            .unionByName(o.filter(col("o_orderkey") % 10 === 3)
              .withColumn("o_orderkey", col("o_orderkey") + m)),
          Seq("o_orderkey"))                                         // v2
        val preOpt = DeltaRead.read(s, tbl).count()
        val (n0, n1) = DeltaWrite.optimize(s, tbl)                   // v3
        val snap = DeltaRead.snapshot(tbl)
        val physicalOk = snap.columnMapping == mapping &&
          snap.files.forall(_.partitionValues.keySet == Set("o_orderpriority")) &&
          snap.files.exists(_.stats.exists(_.min.contains("o_orderkey")))
        val optOk = n1 <= n0 && DeltaRead.read(s, tbl).count() == preOpt
        DeltaRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("physical_layout_ok", lit(physicalOk))
          .withColumn("optimize_preserved_rows", lit(optOk))
      },
      Some("""WITH final AS (
             |  SELECT o_totalprice * 2 AS o_totalprice, o_orderpriority
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT o_totalprice, o_orderpriority
             |  FROM orders WHERE o_orderkey % 2 = 1
             |  UNION ALL
             |  SELECT o_totalprice, o_orderpriority
             |  FROM orders WHERE o_orderkey % 10 = 3)
             |SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS physical_layout_ok, TRUE AS optimize_preserved_rows
             |FROM final GROUP BY 1""".stripMargin)),

    // ICEBERG METADATA TABLES: snapshots/history/files/manifests as
    // queryable DataFrames over the table's own metadata — the
    // debugging surface every Iceberg user touches. Fixture lifecycle:
    // two appends, a MoR position delete, a rollback PAST the delete,
    // and a post-rollback append — so `history` must flag the
    // rolled-over delete snapshot as NOT a current ancestor (the
    // parent-walk, not array order), `files` must count zero delete
    // files at the head, and the final values reconcile with `orders`.
    Q("iceberg_metadata_tables",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_meta")
        val tbl = s"$wh/orders_meta"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val s1 = IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl)
        val s2 = IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority") === "1-URGENT"), tbl)
        IcebergWrite.deleteWhere(s, tbl, col("o_orderkey") % 5 === 0) // s3
        IcebergWrite.rollback(tbl, s2)
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderpriority") === "2-HIGH"), tbl)                  // s4
        val snapsT = IcebergRead.metadataTable(s, tbl, "snapshots")
        val histT = IcebergRead.metadataTable(s, tbl, "history")
        val filesT = IcebergRead.metadataTable(s, tbl, "files")
        val maniT = IcebergRead.metadataTable(s, tbl, "manifests")
        val nSnaps = snapsT.count()
        val opCounts = snapsT.groupBy(col("operation")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val nonAncestors = histT.filter(!col("is_current_ancestor"))
          .select(col("snapshot_id")).collect().map(_.getLong(0)).toSet
        val liveFiles = filesT.filter(col("content") === 0).count()
        val delFiles = filesT.filter(col("content") =!= 0).count()
        val snap = IcebergRead.snapshot(tbl)
        val consistent = nSnaps == 4 &&
          opCounts == Map("append" -> 3L, "delete" -> 1L) &&
          nonAncestors == Set(3L) &&
          liveFiles == snap.files.size && delFiles == 0 &&
          maniT.count() >= 1 &&
          filesT.agg(sum(col("record_count"))).head().getLong(0) ==
            IcebergRead.read(s, tbl).count()
        IcebergRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("metadata_consistent", lit(consistent))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS metadata_consistent
             |FROM orders
             |WHERE o_orderkey % 2 = 0
             |   OR (o_orderkey % 2 = 1
             |       AND o_orderpriority IN ('1-URGENT', '2-HIGH'))
             |GROUP BY 1""".stripMargin)),

    // ICEBERG PARTITION SPEC EVOLUTION (updateSpec — ALTER TABLE ...
    // REPLACE PARTITION FIELD): era 1 lands identity-partitioned by
    // priority, then the spec flips to years(o_orderdate) and era 2
    // lands under it. Old files ride their spec verbatim (their
    // manifests are CARRIED; reads stay correct, just unpruned through
    // the retired channel), new files prune through the year
    // transform; rewriteDataFiles migrates the history into the
    // current layout. Values oracle-gated; booleans pin the two-era
    // tuple split, exact new-era pruning, and the post-compaction
    // migration.
    Q("iceberg_update_spec",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_uspec")
        val tbl = s"$wh/orders_uspec"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl,
          Seq("o_orderpriority"))
        IcebergWrite.updateSpec(tbl, Seq("years(o_orderdate)"))
        IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 1), tbl)
        val snap = IcebergRead.snapshot(tbl)
        val twoEras =
          snap.files.exists(_.partitionValues.contains("o_orderpriority")) &&
            snap.files.exists(_.partitionValues.contains("o_orderdate_year")) &&
            snap.partitionFields.map(_.transform.specName) == Seq("year")
        def scheduled(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles.toInt
        }.sum
        val hi = to_timestamp(lit("1995-01-01 00:00:00"))
        val ranged = IcebergRead.read(s, tbl).filter(col("o_orderdate") < hi)
        val predicted = snap.files.count(f =>
          f.partitionValues.get("o_orderdate_year").forall(_.toLong <= 25L))
        val pruneOk = scheduled(ranged) == predicted &&
          predicted < snap.files.size
        IcebergWrite.rewriteDataFiles(s, tbl)
        val migrated = IcebergRead.snapshot(tbl).files
          .forall(_.partitionValues.contains("o_orderdate_year"))
        IcebergRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("two_eras", lit(twoEras))
          .withColumn("new_era_pruning", lit(pruneOk))
          .withColumn("compaction_migrated", lit(migrated))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS two_eras, TRUE AS new_era_pruning,
             |  TRUE AS compaction_migrated
             |FROM orders GROUP BY 1""".stripMargin)),

    // ICEBERG FIELD-ID SCHEMA EVOLUTION: rename is metadata-only — the
    // field keeps its id, so era-1 files (parquet column named
    // o_totalprice) and era-2 files (written as o_amount after the
    // rename) serve ONE logical column through field-id resolution,
    // zero rewrite (the spec's core evolution strength, and what the
    // reference's rehash rename lifecycle maps to on Iceberg). The
    // oracle recomputes the union from `orders`; booleans pin the
    // id-resolution mode, the stable id, and the era split.
    Q("iceberg_schema_evolution",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_evo")
        val tbl = s"$wh/orders_evo"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        val s1 = IcebergWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl)
        IcebergWrite.renameColumn(tbl, "o_totalprice", "o_amount")
        val s2 = IcebergWrite.write(
          o.filter(col("o_orderkey") % 2 === 1)
            .withColumnRenamed("o_totalprice", "o_amount"), tbl)
        val snap = IcebergRead.snapshot(tbl)
        val idStable = snap.resolveById &&
          snap.fieldIdToName.map(_.swap).get("o_amount").contains(3) &&
          snap.schema.fieldNames.toSeq ==
            Seq("o_orderkey", "o_custkey", "o_amount", "o_orderpriority")
        // era split: the incremental read of s2 alone is the odd half
        val eraOk = IcebergRead.readAppends(s, tbl, s1, s2)
          .filter(col("o_orderkey") % 2 === 1).count() ==
          IcebergRead.readAppends(s, tbl, s1, s2).count()
        IcebergRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_amount") * 100).cast("long")).as("amount_cents"))
          .withColumn("id_resolution", lit(idStable))
          .withColumn("era_split_ok", lit(eraOk))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS amount_cents,
             |  TRUE AS id_resolution, TRUE AS era_split_ok
             |FROM orders GROUP BY 1""".stripMargin)),

    // FULL MERGE CLAUSE FAMILY (both formats): one MERGE exercising all
    // four clause categories — column-subset UPDATE on matched rows
    // (the reference rehash shape, rehash_single_hub.sql:84-111),
    // conditional INSERT for unmatched source rows, and the NOT MATCHED
    // BY SOURCE pair (conditional DELETE + column-subset UPDATE) for
    // target rows the source dropped. Source = even-key orders with
    // doubled price ∪ max-shifted %10==1 keys; the oracle recomputes
    // the exact final state relationally, so clause routing,
    // first-match-wins, and the COW rewrite are all value-pinned.
    Q("delta_merge_clauses",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite, MergeClauses}
        val wh = DvQueries.tmpWarehouse("graft_delta_mc")
        val tbl = s"$wh/orders_mc"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o, tbl)
        val m = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val source = o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(o.filter(col("o_orderkey") % 10 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + m))
        DeltaWrite.mergeClauses(s, tbl, source, Seq("o_orderkey"), Seq(
          MergeClauses.MatchedUpdate(
            Map("o_totalprice" -> col("s.o_totalprice"))),
          MergeClauses.NotMatchedInsert(Some(col("s.o_totalprice") < 100000)),
          MergeClauses.BySourceDelete(Some(col("t.o_orderpriority") === "5-LOW")),
          MergeClauses.BySourceUpdate(
            Map("o_orderpriority" -> lit("STALE")))))
        DeltaRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      },
      Some(mergeClausesOracle)),

    Q("iceberg_merge_clauses",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergWrite, MergeClauses}
        val wh = DvQueries.tmpWarehouse("graft_ice_mc")
        val tbl = s"$wh/orders_mc"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        IcebergWrite.write(o, tbl)
        val m = o.agg(max(col("o_orderkey"))).head().getLong(0)
        val source = o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(o.filter(col("o_orderkey") % 10 === 1)
            .withColumn("o_orderkey", col("o_orderkey") + m))
        IcebergWrite.mergeClauses(s, tbl, source, Seq("o_orderkey"), Seq(
          MergeClauses.MatchedUpdate(
            Map("o_totalprice" -> col("s.o_totalprice"))),
          MergeClauses.NotMatchedInsert(Some(col("s.o_totalprice") < 100000)),
          MergeClauses.BySourceDelete(Some(col("t.o_orderpriority") === "5-LOW")),
          MergeClauses.BySourceUpdate(
            Map("o_orderpriority" -> lit("STALE")))))
        IcebergRead.read(s, tbl)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      },
      Some(mergeClausesOracle)),

    // DELTA V2 CHECKPOINT (PROTOCOL.md §V2 Checkpoints): the layout
    // modern Databricks writers default to on NEW tables — a UUID-named
    // top checkpoint file (non-file actions + checkpointMetadata +
    // sidecar actions) with the add/remove actions split across
    // _sidecars/ parquet files. The fixture checkpoints a
    // partitioned+DV'd orders table with 2 sidecars, then DELETES every
    // JSON commit at or below the checkpoint — replay must resume from
    // the v2 layout alone (the spec's classic-checkpoint-absent path),
    // with values, DV suppression, partition pruning and stats skipping
    // intact, and a post-checkpoint commit replaying on top. Oracle
    // recomputes the final state from `orders`.
    Q("delta_v2_checkpoint",
      (s, dir) => {
        import graft.sources.{DeltaRead, DeltaWrite}
        val wh = DvQueries.tmpWarehouse("graft_delta_v2cp")
        val tbl = s"$wh/orders_v2cp"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"))
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0), tbl,
          Seq("o_orderpriority"))                                     // v0
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 1), tbl)  // v1
        DeltaWrite.deleteWhere(s, tbl, col("o_orderkey") % 5 === 0)   // v2+: DVs
        val cpv = DeltaWrite.checkpointV2(s, tbl, sidecars = 2)
        val logDir = java.nio.file.Paths.get(tbl, "_delta_log")
        val listing = java.nio.file.Files.list(logDir)
        val names = try {
          import scala.jdk.CollectionConverters._
          listing.iterator().asScala.map(_.getFileName.toString).toSeq
        } finally listing.close()
        val layoutOk =
          names.count(_.matches("\\d{20}\\.checkpoint\\.[A-Za-z0-9-]+\\.parquet")) == 1 &&
            !names.exists(_.matches("\\d{20}\\.checkpoint\\.parquet"))
        // the pinned path: no JSON history at or below the checkpoint
        names.filter(_.matches("\\d{20}\\.json"))
          .filter(_.stripSuffix(".json").toLong <= cpv)
          .foreach(n => java.nio.file.Files.delete(logDir.resolve(n)))
        // one more commit AFTER the checkpoint replays on top of it
        DeltaWrite.write(o.filter(col("o_orderkey") % 2 === 0 &&
          col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * -1), tbl)
        val snap = DeltaRead.snapshot(tbl)
        val resumed = snap.version == cpv + 1 &&
          snap.protocol.readerFeatures.contains("v2Checkpoint") &&
          snap.files.exists(_.deletionVector.nonEmpty)
        val df = DeltaRead.read(s, tbl)
        // pruning proof from checkpoint-carried partition tuples + stats
        val probed = df.filter(col("o_orderpriority") === "1-URGENT")
        val scheduled = probed.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles.toInt
        }.sum
        val predicted = snap.files.count(
          _.partitionValues.get("o_orderpriority").contains("1-URGENT"))
        df.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("v2_layout", lit(layoutOk))
          .withColumn("resumed_from_v2", lit(resumed))
          .withColumn("pruning_intact",
            lit(scheduled == predicted && scheduled < snap.files.size))
      },
      Some("""WITH final AS (
             |  SELECT o_orderpriority, o_totalprice FROM orders
             |  WHERE o_orderkey % 5 <> 0
             |  UNION ALL
             |  SELECT o_orderpriority, -o_totalprice FROM orders
             |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 <> 0
             |    AND o_orderkey % 7 = 0)
             |SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  TRUE AS v2_layout, TRUE AS resumed_from_v2,
             |  TRUE AS pruning_intact
             |FROM final GROUP BY 1""".stripMargin)),

    // ICEBERG PARTITION TRANSFORMS: production Iceberg tables are
    // overwhelmingly transform-partitioned (days(ts)/years(ts),
    // bucket(N, key)) — at 100 TB an unpruned transformed table is a
    // full scan per query. IcebergWrite lays files out per TRANSFORMED
    // tuple (years + murmur3 bucket per the Table Spec, Appendix B hash)
    // and LogFileIndex prunes pushed source-column predicates
    // through the same transform arithmetic. Two channels pinned
    // scanned == predicted from metadata alone: a timestamp range
    // (years — timestamps carry NO footer stats, so the transform is
    // the only pruner; the 1996 boundary year stays, by design), and a
    // custkey IN-probe (bucket ∩ the files' footer key intervals).
    // Values are oracle-gated on the range aggregate + probe count.
    Q("iceberg_transform_pruning",
      (s, dir) => {
        import graft.sources.{IcebergRead, IcebergTransforms, IcebergWrite}
        val wh = DvQueries.tmpWarehouse("graft_ice_transform")
        val tbl = s"$wh/orders_transformed"
        val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        IcebergWrite.write(o, tbl,
          Seq("years(o_orderdate)", "bucket(8, o_custkey)"))
        val snap = IcebergRead.snapshot(tbl)
        val transformed = snap.partitionFields.map(_.transform.specName) ==
          Seq("year", "bucket[8]")
        def scheduled(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.totalNumberOfFiles.toInt
        }.sum

        // channel 1: year-range pruning, exact at year granularity
        val lo = to_timestamp(lit("1994-01-01 00:00:00"))
        val hi = to_timestamp(lit("1996-01-01 00:00:00"))
        val ranged = IcebergRead.read(s, tbl)
          .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        val keepYears = Set(24L, 25L, 26L) // 1994, 1995 + the boundary year
        val yearPredicted = snap.files.count(f =>
          keepYears(f.partitionValues("o_orderdate_year").toLong))
        val yearExact = scheduled(ranged) == yearPredicted &&
          yearPredicted < snap.files.size

        // channel 2: bucket IN-probe over the 3 smallest custkeys,
        // trimmed further by the files' footer key intervals
        val keys = o.select(col("o_custkey")).distinct()
          .orderBy(col("o_custkey")).limit(3).collect().map(_.getLong(0)).toSeq
        val buckets = keys.map(k =>
          (IcebergTransforms.hashLong(k) & Int.MaxValue).toLong % 8).toSet
        val probe = IcebergRead.read(s, tbl)
          .filter(col("o_custkey").isin(keys: _*))
        val bucketPredicted = snap.files.count { f =>
          buckets(f.partitionValues("o_custkey_bucket").toLong) &&
            f.stats.forall(st => keys.exists(k =>
              st.min.get("o_custkey").forall(_.asLong <= k) &&
                st.max.get("o_custkey").forall(_.asLong >= k)))
        }
        val bucketExact = scheduled(probe) == bucketPredicted &&
          bucketPredicted < snap.files.size
        val nProbe = probe.count()

        ranged.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
          .withColumn("n_probe_rows", lit(nProbe))
          .withColumn("spec_transformed", lit(transformed))
          .withColumn("year_scan_exact", lit(yearExact))
          .withColumn("bucket_scan_exact", lit(bucketExact))
      },
      Some("""SELECT o_orderpriority AS priority,
             |  cast(count(*) AS BIGINT) AS n_orders,
             |  cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |    AS total_cents,
             |  (SELECT count(*) FROM orders WHERE o_custkey IN
             |    (SELECT o_custkey FROM (SELECT DISTINCT o_custkey FROM orders
             |      ORDER BY 1 LIMIT 3))) AS n_probe_rows,
             |  TRUE AS spec_transformed, TRUE AS year_scan_exact,
             |  TRUE AS bucket_scan_exact
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
             |GROUP BY 1""".stripMargin))
  )
}
