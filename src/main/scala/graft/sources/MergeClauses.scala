package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The full MERGE clause family, shared by [[DeltaWrite.mergeClauses]]
  * and [[IcebergWrite.mergeClauses]] — clause semantics are format-
  * independent; only the commit differs.
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
  * join's projection, so clause count never adds passes over the data. */
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

  /** One-pass MERGE-source precheck shared by the four MERGE writers
    * (Delta/Iceberg × fast/clauses): a per-key count aggregate yields, in
    * ONE job over the source, all three facts every MERGE needs — the
    * duplicate-key gate (max per-key count), the source row count (the
    * empty-MERGE no-op), and the per-key [min, max] bounds that drive the
    * file-stats prune. These were previously two separate full scans of
    * the source per MERGE (a groupBy dup probe + a bounds aggregate).
    * Throws on duplicate keys; None on an empty source; otherwise the
    * aggregate row laid out (min_k0, max_k0, …, min_kn, max_kn, rows,
    * maxdup) in keyCols order — a bound is null when its key column is
    * all-NULL, exactly as the old bounds aggregate reported it. */
  private[sources] def sourcePrecheck(source: DataFrame, keyCols: Seq[String])
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

  /** Apply `clauses` to `target` (the rows of the touched files, table
    * schema) vs `source`. Returns
    * (output rows, change rows + `_change_type`): the output replaces
    * the touched files; the change rows are the commit's CDF content
    * (update_preimage/update_postimage, delete, insert — carried rows
    * excluded). Both frames share one join; neither is materialized
    * here. */
  def apply(target: DataFrame, source: DataFrame, keyCols: Seq[String],
            clauses: Seq[Clause], schema: StructType,
            aliases: (String, String) = ("t", "s")): (DataFrame, DataFrame) = {
    require(clauses.nonEmpty, "MERGE needs at least one clause")
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
