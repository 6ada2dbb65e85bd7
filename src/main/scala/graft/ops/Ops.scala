package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.SystemColumns._

/** Reusable Data Vault dataflow operators (SURVEY §2.4-2.7).
  * All are pure DataFrame → DataFrame transforms — Catalyst owns the
  * physical strategy (exchange placement, broadcast decisions, AQE).
  */
object Ops {

  /** W1 — keep the earliest row per key set
    * (reference `tables/databricks/hub.sql:221-232`, QUALIFY ROW_NUMBER()=1).
    *
    * Implemented as `min_by(struct(*), ldts)` instead of a row_number
    * window: a window needs a full shuffle + per-partition SORT of every
    * row, while min_by is an ordinary aggregate with map-side partial
    * combine — at 100 TB the sort is the difference between a spilling
    * stage and a streaming one. Ties on ldts are arbitrary in both forms
    * (and in every reference warehouse). */
  def dedupEarliest(df: DataFrame, keys: Seq[String], ldts: String = LdtsAlias): DataFrame =
    dedupBy(df, keys, min_by(_, _), ldts)

  /** W2 — keep the latest row per key set
    * (reference `tables/databricks/sat_v0.sql:69-84`). */
  def dedupLatest(df: DataFrame, keys: Seq[String], ldts: String = LdtsAlias): DataFrame =
    dedupBy(df, keys, max_by(_, _), ldts)

  private def dedupBy(df: DataFrame, keys: Seq[String],
                      agg: (Column, Column) => Column, ldts: String): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    val packed = df.groupBy(keys.map(col): _*)
      .agg(agg(struct(others.map(col).toIndexedSeq: _*), col(ldts)).as("__row"))
    others.foldLeft(packed)((d, c) => d.withColumn(c, col(s"__row.$c")))
      .drop("__row")
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** W3 — change-only dedup: drop rows whose dedup column equals the previous
    * row's value within the key partition (reference
    * `tables/databricks/sat_v0.sql:93-114`: QUALIFY CASE WHEN hd = LAG(hd) ...).
    * NULL-safe exactly like the reference: `hd = LAG(hd)` is NULL (≠ TRUE)
    * when either side is NULL, so such rows are KEPT. */
  def dedupChanges(df: DataFrame, keys: Seq[String], dedupCol: String,
                   ldts: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ldts).asc)
    val isDup = col(dedupCol) === lag(col(dedupCol), 1).over(w)
    df.withColumn("__dup", coalesce(isDup, lit(false)))
      .filter(!col("__dup")).drop("__dup")
  }

  def dedupChanges(df: DataFrame, key: String, dedupCol: String): DataFrame =
    dedupChanges(df, Seq(key), dedupCol, LdtsAlias)

  def dedupChanges(df: DataFrame, keys: Seq[String], dedupCol: String): DataFrame =
    dedupChanges(df, keys, dedupCol, LdtsAlias)

  /** W4 — virtual end-dating: ledts = LEAD(ldts) - 1 microsecond, last row
    * gets end-of-all-times (reference `tables/databricks/sat_v1.sql:33-48`).
    * `keys` may be a composite ref-key set (ref_sat_v1.sql partitions the
    * LEAD by all ref keys). */
  def endDate(df: DataFrame, keys: Seq[String], ldts: String,
              ledtsAlias: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ldts).asc)
    df.withColumn(ledtsAlias,
      coalesce(lead(col(ldts) - expr("interval 1 microsecond"), 1).over(w), endOfAllTimesTs))
  }

  def endDate(df: DataFrame, key: String, ldts: String = LdtsAlias,
              ledtsAlias: String = LedtsAlias): DataFrame =
    endDate(df, Seq(key), ldts, ledtsAlias)

  /** W6 — is_current flag (reference `tables/databricks/sat_v1.sql:58-63`). */
  def isCurrentFlag(df: DataFrame, ledts: String = LedtsAlias,
                    alias: String = IsCurrentAlias): DataFrame =
    df.withColumn(alias, when(col(ledts) === endOfAllTimesTs, true).otherwise(false))

  /** P6 — high-water-mark filter: rows newer than the target's max ldts
    * (ghost rows at end-of-all-times excluded from the max; empty target →
    * beginning-of-all-times). Reference `tables/databricks/sat_v0.sql:56-62`.
    *
    * Implemented as a scalar aggregate collected on the driver: the target
    * max is one value, and a literal predicate pushes down into the parquet
    * scan (min/max page skipping) — strictly better at 100 TB than a join.
    */
  def hwmFilter(src: DataFrame, target: Option[DataFrame],
                ldts: String = LdtsAlias): DataFrame =
    target.flatMap(hwm(_, ldts)).fold(src)(h => src.filter(col(ldts) > lit(h)))

  /** The target's high-water mark for [[hwmFilter]]: its max ldts with
    * end-of-all-times ghost rows excluded, None when it has no such row. */
  private[graft] def hwm(target: DataFrame, ldts: String = LdtsAlias): Option[java.sql.Timestamp] = {
    val row = target.filter(col(ldts) =!= endOfAllTimesTs).agg(max(col(ldts))).head()
    if (row.isNullAt(0)) None else Some(row.getTimestamp(0))
  }

  /** J3/A1 — per-record-source high-water-marks (reference
    * `tables/databricks/hub.sql:46-133`): the target is scanned once per
    * rsrc_static LIKE pattern (the reference's rsrc_static_N UNION ALL; each
    * scan's filter + MAX pushes into the parquet scan), giving a grouped
    * (rsrc_static → max ldts) map that is broadcast-inner-joined so each
    * source only contributes rows newer than ITS OWN watermark(s). A row
    * newer than several patterns' marks duplicates, exactly like the
    * reference's OR-join — the downstream earliest-per-key dedup absorbs it. */
  def hwmPerRsrcStatic(src: DataFrame, target: DataFrame, rsrcStatics: Seq[String],
                       ldts: String = LdtsAlias): DataFrame = {
    val maxPer = rsrcStatics.map { p =>
      target
        .filter(col(RsrcAlias).like(p) && col(ldts) =!= endOfAllTimesTs)
        .agg(max(col(ldts)).as("__max_ldts"))
    }.reduce(_.unionAll(_))
    src.join(broadcast(maxPer), col(ldts) > col("__max_ldts") || col("__max_ldts").isNull,
        "inner")
      .drop("__max_ldts")
  }

  /** O2 — LIMIT-1 distinct probe (reference
    * `supporting/get_distinct_value.sql`): one arbitrary distinct value of a
    * column, optionally excluding given values. Driver-side scalar, like the
    * reference's run_query at compile time. */
  def distinctValue(df: DataFrame, column: String, exclude: Seq[Any] = Nil): Option[Any] = {
    val d = df.select(col(column)).distinct()
    val filtered = if (exclude.isEmpty) d else d.filter(!col(column).isin(exclude: _*))
    filtered.limit(1).collect().headOption.map(_.get(0))
  }

  /** O3 — dev row limiter (reference `supporting/limit_rows.sql`: TOP 100
    * outside the prod target). */
  def limitRows(df: DataFrame, isProd: Boolean, n: Int = 100): DataFrame =
    if (isProd) df else df.limit(n)

  /** J1 — anti-join: keep src rows whose keys do not exist in target
    * (reference `tables/databricks/hub.sql:234-256` NOT IN;
    * `sat_v0.sql:131-142` NOT EXISTS). */
  def antiJoin(src: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    src.join(target.select(keys.map(col): _*), keys, "left_anti")

  /** U1 — union N sources by column name
    * (reference `tables/databricks/hub.sql:186-219`). */
  def unionSources(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))

  /** P7 — exclude ghost-record rows (reference `eff_sat_v0.sql:43`). */
  def excludeGhosts(df: DataFrame, ldts: String = LdtsAlias): DataFrame =
    df.filter(col(ldts) =!= beginningOfAllTimesTs && col(ldts) =!= endOfAllTimesTs)

  /** Skew-safe equi-join for hot keys AQE can't fully split (e.g. a
    * boilerplate hashkey holding 1% of a 100 TB satellite): `right` is
    * replicated into `buckets` salted copies and `left` rows scatter
    * DETERMINISTICALLY across them (hash of the whole row, not the join
    * key — the key alone would land every hot-key row in one bucket
    * again), so one key's rows spread over `buckets` tasks instead of one
    * straggler. Result ≡ `left.join(right, keys, joinType)` for
    * inner/left_outer/left_semi; right-side row count is multiplied by
    * `buckets`, so use when |right| ≪ |left| (dimension-shaped).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 buckets: Int, joinType: String = "inner"): DataFrame = {
    require(buckets > 0, "saltedJoin: buckets must be positive")
    require(Seq("inner", "left", "left_outer", "left_semi").contains(joinType),
      s"saltedJoin: join type '$joinType' would change semantics under replication")
    val salted = left.withColumn("__salt",
      pmod(hash(left.columns.toIndexedSeq.map(col): _*), lit(buckets)))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** The reference lets a project rename every system column globally
    * (`datavault4dbt.ldts_alias` / `rsrc_alias` / `ledts_alias` /
    * `sdts_alias`, `dbt_project.yml:19-22`). The engine's loaders use the
    * fixed standard names internally; a custom-alias project bridges at the
    * two edges — `toStandardAliases` on anything it feeds in,
    * `withSystemAliases` on anything it reads out — and gets full naming
    * parity without threading configuration through every operator.
    * Only columns actually present are renamed; a rename whose target name
    * is already taken fails loudly (withColumnRenamed would silently
    * produce duplicate columns and a later rename would hit both). */
  def withSystemAliases(df: DataFrame,
                        ldts: String = LdtsAlias, rsrc: String = RsrcAlias,
                        ledts: String = LedtsAlias,
                        sdts: String = SdtsAlias): DataFrame =
    renameAll(df, Seq(LdtsAlias -> ldts, RsrcAlias -> rsrc,
      LedtsAlias -> ledts, SdtsAlias -> sdts))

  /** inverse of [[withSystemAliases]]: custom names → the standard ones the
    * loaders expect */
  def toStandardAliases(df: DataFrame,
                        ldts: String = LdtsAlias, rsrc: String = RsrcAlias,
                        ledts: String = LedtsAlias,
                        sdts: String = SdtsAlias): DataFrame =
    renameAll(df, Seq(ldts -> LdtsAlias, rsrc -> RsrcAlias,
      ledts -> LedtsAlias, sdts -> SdtsAlias))

  private def renameAll(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val active = pairs.filter { case (from, to) =>
      from != to && df.columns.contains(from)
    }
    active.foreach { case (from, to) =>
      val occupied = df.columns.contains(to) && !active.exists(_._1 == to)
      require(!occupied && active.count(_._2 == to) == 1,
        s"system-alias rename $from -> $to collides with an existing column")
    }
    // rename through collision-free temporaries so swaps (ldts<->rsrc)
    // never transit a duplicate-name state
    val tagged = active.zipWithIndex.map { case ((f, t), i) => (f, s"__ren_$i", t) }
    val mid = tagged.foldLeft(df) { case (d, (f, tmp, _)) => d.withColumnRenamed(f, tmp) }
    tagged.foldLeft(mid) { case (d, (_, tmp, t)) => d.withColumnRenamed(tmp, t) }
  }
}
