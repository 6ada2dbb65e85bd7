package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The MERGE clause family and the one MERGE implementation behind the
  * three writers, [[DeltaWrite.mergeClauses]],
  * [[IcebergWrite.mergeClauses]] and [[graft.runtime.TxLogTable.merge]]
  * — the touched-file search and the clause semantics are
  * format-independent; only the scan and the commit differ. Each
  * format's upsert (`merge`) is the clause list
  * `[MatchedUpdate(), NotMatchedInsert()]`.
  *
  * Clauses follow SQL MERGE: within each category (MATCHED / NOT
  * MATCHED / NOT MATCHED BY SOURCE) they evaluate in declaration order
  * and the FIRST clause whose condition holds applies; a row no clause
  * claims is carried unchanged (target side) or dropped (source side).
  * Conditions and SET expressions reference the two sides through the
  * aliases `t` (target) and `s` (source) — e.g.
  * `expr("s.price > t.price")`, `Map("price" -> col("s.price"))`. An
  * empty SET map on [[MatchedUpdate]] means `UPDATE SET *`
  * (column-by-column from the source); reference shape:
  * rehashing/single_entities/databricks/rehash_single_hub.sql:84-111
  * updates a column SUBSET, which `set` expresses directly.
  *
  * Scale shape: ONE shuffle — a full-outer join of the (already
  * file-pruned) target rows against the source on the key equality;
  * every clause then evaluates as codegen'd `when` chains inside the
  * join's projection, so clause count never adds passes over the data.
  * The unconditional upsert needs no full-outer join at all (see
  * [[apply]]). */
object MergeClauses {

  sealed trait Clause { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET … (empty set = SET *). */
  final case class MatchedUpdate(set: Map[String, Column] = Map.empty,
                                 condition: Option[Column] = None) extends Clause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MatchedDelete(condition: Option[Column] = None) extends Clause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT *. */
  final case class NotMatchedInsert(condition: Option[Column] = None) extends Clause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class BySourceDelete(condition: Option[Column] = None) extends Clause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …. */
  final case class BySourceUpdate(set: Map[String, Column],
                                  condition: Option[Column] = None) extends Clause

  /** true ⇔ any clause targets rows the source does NOT name — the
    * caller must then treat EVERY live file as touched (the standard
    * NOT MATCHED BY SOURCE cost; source-key pruning would silently skip
    * rows those clauses must see). */
  def touchesBySource(clauses: Seq[Clause]): Boolean = clauses.exists {
    case _: BySourceDelete | _: BySourceUpdate => true
    case _ => false
  }

  /** The input checks both writers share: the keys exist in the table
    * and the source, and an INSERT * or UPDATE SET * clause needs the
    * full table schema in the source. */
  private[sources] def validate(schema: StructType, source: DataFrame,
                                keyCols: Seq[String], clauses: Seq[Clause]): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val missing = keyCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"merge keys not in table schema: $missing")
    val srcMissing = keyCols.filterNot(source.schema.fieldNames.contains)
    require(srcMissing.isEmpty, s"merge keys not in source: $srcMissing")
    val needsFullSchema = clauses.exists {
      case _: NotMatchedInsert => true
      case MatchedUpdate(set, _) => set.isEmpty
      case _ => false
    }
    if (needsFullSchema) {
      val want = schema.fields.map(f => (f.name, f.dataType)).toSeq
      val got = source.schema.fields.map(f => (f.name, f.dataType)).toSeq
      require(got == want, "INSERT * / UPDATE SET * clauses need the full " +
        s"table schema in the source; got ${got.mkString(",")}, table has ${want.mkString(",")}")
    }
  }

  /** One-pass MERGE-source precheck shared by the three MERGE writers
    * (through [[touchedFiles]]): a per-key count aggregate yields, in
    * ONE job over the source, all three facts every MERGE needs — the
    * duplicate-key gate (max per-key count), the source row count (the
    * empty-MERGE no-op), and the per-key [min, max] bounds that drive the
    * file-stats prune. Throws on duplicate keys; None on an empty source;
    * otherwise the aggregate row laid out (min_k0, max_k0, …, min_kn,
    * max_kn, rows, maxdup) in keyCols order — a bound is null when its
    * key column is all-NULL. */
  private[graft] def sourcePrecheck(source: DataFrame, keyCols: Seq[String])
      : Option[org.apache.spark.sql.Row] = {
    val perKey = source.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val aggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k"))) ++
      Seq(sum(col("__n")).as("__rows"), max(col("__n")).as("__maxdup"))
    val r = perKey.agg(aggs.head, aggs.tail: _*).head()
    val rows = if (r.isNullAt(r.length - 2)) 0L else r.getLong(r.length - 2)
    require(rows == 0L || r.getLong(r.length - 1) <= 1L,
      "merge source has duplicate keys — each target row may " +
        "be matched by at most one source row (MERGE semantics)")
    if (rows == 0L) None else Some(r)
  }

  /** The catalyst [min,max] interval filters over the key columns that
    * [[sourcePrecheck]]'s bounds imply — the prune predicate every MERGE
    * hands to StatsSkip. A key whose bounds are null (all-NULL column)
    * contributes no filter, same as before. */
  private[graft] def keyBoundFilters(b: org.apache.spark.sql.Row,
                                     keyCols: Seq[String],
                                     schema: StructType)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    keyCols.zipWithIndex.flatMap { case (k, i) =>
      import org.apache.spark.sql.catalyst.expressions._
      val dt = schema.fields(schema.fieldIndex(k)).dataType
      if (b.isNullAt(2 * i) || b.isNullAt(2 * i + 1)) Nil
      else {
        val attr = AttributeReference(k, dt)()
        Seq(GreaterThanOrEqual(attr, Literal.create(b.get(2 * i), dt)),
          LessThanOrEqual(attr, Literal.create(b.get(2 * i + 1), dt)))
      }
    }

  /** The live files a MERGE rewrites, for any format: every file
    * under a BY SOURCE clause; otherwise [[sourcePrecheck]]'s key bounds
    * prune `files` through their `stats` ([[StatsSkip]] over the table
    * `schema`, so the stats use the schema's column names), and a
    * distributed semi-join of the surviving files' rows (`scan`: the
    * format's scan of those files, row-level deletes pre-applied,
    * tagging each row with its file as `__fp`) against the
    * distinct source keys finds the files that hold a source key. Only
    * the distinct `__fp` paths reach the driver, mapped back to files
    * through `qualify` (O(touched files)). The precheck's duplicate-key
    * gate runs in every case. None ⇔ the MERGE is a no-op (an empty
    * source and no BY SOURCE clause). */
  private[graft] def touchedFiles[F](source: DataFrame, keyCols: Seq[String],
      clauses: Seq[Clause], schema: StructType, files: Seq[F],
      stats: F => Option[StatsSkip.FileStats], qualify: F => String,
      scan: Seq[F] => DataFrame): Option[Seq[F]] = {
    val pre = sourcePrecheck(source, keyCols)
    if (touchesBySource(clauses)) Some(files)
    else pre.map { b =>
      // a file whose key interval is disjoint from the source's overall
      // key [min,max] cannot contain a match (a match needs EVERY key
      // equal, so ANY disjoint key dimension suffices)
      val boundFilters = keyBoundFilters(b, keyCols, schema)
      val candidates = files.filter(f => StatsSkip.keep(stats(f), boundFilters, schema))
      if (candidates.isEmpty) Nil
      else {
        val byQualified = candidates.map(f => qualify(f) -> f).toMap
        scan(candidates)
          .join(source.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
          .select(col("__fp")).distinct()
          .collect().map(_.getString(0)).toSeq
          .map(fp => byQualified.getOrElse(fp,
            throw new IllegalStateException(s"scan surfaced unknown file $fp")))
      }
    }
  }

  /** An empty frame of `schema` that the optimizer knows is empty (a
    * local relation): the MERGE target when no file is touched, so the
    * rewrite plans as the source side alone. */
  private[graft] def emptyFrame(spark: org.apache.spark.sql.SparkSession,
                                schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** Apply `clauses` to `target` (the rows of the touched files, table
    * schema) vs `source`. Returns
    * (output rows, change rows + `_change_type`): the output replaces
    * the touched files; the change rows are the commit's CDF content
    * (update_preimage/update_postimage, delete, insert — carried rows
    * excluded). Both frames share one join; neither is materialized
    * here.
    *
    * The upsert — exactly `[MatchedUpdate(), NotMatchedInsert()]`, no
    * conditions — replaces every target row the source names with its
    * source row, so it needs no full-outer join: the output is the
    * target anti-joined with the source keys, unioned with the whole
    * source, and the change rows split the source on the keys the
    * target holds. */
  def apply(target: DataFrame, source: DataFrame, keyCols: Seq[String],
            clauses: Seq[Clause], schema: StructType,
            aliases: (String, String) = ("t", "s")): (DataFrame, DataFrame) = {
    require(clauses.nonEmpty, "MERGE needs at least one clause")
    if (clauses == Seq(MatchedUpdate(), NotMatchedInsert())) {
      val fields = schema.fieldNames.toSeq.map(col)
      val keys = keyCols.map(col)
      val srcKeys = source.select(keys: _*).distinct()
      val src = source.select(fields: _*)
      val rows = target.select(fields: _*)
      val matchedKeys = rows.select(keys: _*).distinct()
      def stamped(df: DataFrame, ct: String) = df.withColumn("_change_type", lit(ct))
      return (rows.join(srcKeys, keyCols, "left_anti").unionByName(src),
        stamped(rows.join(srcKeys, keyCols, "left_semi"), "update_preimage")
          .unionByName(stamped(src.join(matchedKeys, keyCols, "left_semi"), "update_postimage"))
          .unionByName(stamped(src.join(matchedKeys, keyCols, "left_anti"), "insert")))
    }
    // user expressions resolve through the aliases; internal references
    // are dataframe-anchored (t(..)/s(..)), immune to a data column
    // shadowing an alias name — pick different aliases when a column is
    // literally named "t" or "s"
    val t = target.withColumn("__t_present", lit(true)).alias(aliases._1)
    val s = source.withColumn("__s_present", lit(true)).alias(aliases._2)
    val keyCond = keyCols.map(k => t(k) === s(k)).reduce(_ && _)
    val tPresent = t("__t_present").isNotNull
    val sPresent = s("__s_present").isNotNull

    def category(c: Clause): Column = c match {
      case _: MatchedUpdate | _: MatchedDelete => tPresent && sPresent
      case _: NotMatchedInsert => sPresent && !tPresent
      case _: BySourceDelete | _: BySourceUpdate => tPresent && !sPresent
    }
    val indexed = clauses.zipWithIndex
    // first-match-wins within each category: the when-chain tests in
    // declaration order and the category predicates are disjoint
    val branch = indexed.foldRight(lit(-1): Column) { case ((c, i), els) =>
      when(category(c) && c.condition.getOrElse(lit(true)), lit(i)).otherwise(els)
    }
    val j = t.join(s, keyCond, "full_outer").withColumn("__branch", branch)
    val b = col("__branch")

    val deleteBranches = indexed.collect {
      case (_: MatchedDelete | _: BySourceDelete, i) => i
    }
    val updateBranches = indexed.collect {
      case (_: MatchedUpdate | _: BySourceUpdate, i) => i
    }
    val insertBranches = indexed.collect { case (_: NotMatchedInsert, i) => i }
    def inBranches(is: Seq[Int]): Column =
      is.map(b === _).reduceOption(_ || _).getOrElse(lit(false))

    def updatedValue(cName: String): Column =
      indexed.foldRight(t(cName)) { case ((cl, i), els) =>
        cl match {
          case MatchedUpdate(set, _) =>
            val v = if (set.isEmpty) s(cName)
                    else set.getOrElse(cName, t(cName))
            when(b === i, v).otherwise(els)
          case BySourceUpdate(set, _) =>
            when(b === i, set.getOrElse(cName, t(cName))).otherwise(els)
          case _ => els
        }
      }
    def project(vals: String => Column): Seq[Column] =
      schema.fields.toSeq.map(f => vals(f.name).cast(f.dataType).as(f.name))

    val targetOut = j.filter(tPresent && !inBranches(deleteBranches))
      .select(project(updatedValue): _*)
    // only an INSERT clause may project every table column from the
    // source (which then must carry the full schema — a subset source
    // is fine for update/delete-only merges, the rehash shape)
    val inserts =
      if (insertBranches.isEmpty)
        target.sparkSession.createDataFrame(
          target.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema)
      else j.filter(inBranches(insertBranches))
        .select(project(n => s(n)): _*)
    val out = targetOut.unionByName(inserts)

    def stamped(rows: DataFrame, ct: String): DataFrame =
      rows.withColumn("_change_type", lit(ct))
    val changeFrames =
      (if (updateBranches.isEmpty) Nil else Seq(
        stamped(j.filter(inBranches(updateBranches))
          .select(project(n => t(n)): _*), "update_preimage"),
        stamped(j.filter(inBranches(updateBranches))
          .select(project(updatedValue): _*), "update_postimage"))) ++
      (if (deleteBranches.isEmpty) Nil else Seq(
        stamped(j.filter(inBranches(deleteBranches))
          .select(project(n => t(n)): _*), "delete"))) ++
      (if (insertBranches.isEmpty) Nil else Seq(stamped(inserts, "insert")))
    val changeSchema = StructType(schema.fields :+
      StructField("_change_type", StringType, nullable = false))
    val changes = changeFrames.reduceOption(_ unionByName _).getOrElse(
      target.sparkSession.createDataFrame(
        target.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        changeSchema))
    (out, changes)
  }
}
