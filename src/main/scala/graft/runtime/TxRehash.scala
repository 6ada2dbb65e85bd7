package graft.runtime

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expr.{HashConfig, Hashing}

/** The reference's single-entity rehash lifecycle
  * (`macros/rehashing/single_entities/databricks/rehash_single_hub.sql`) on
  * [[TxLogTable]] — step for step:
  *
  *   1. `ALTER TABLE ADD COLUMN <hk>_updated` (`:17-26`)   → metadata-only
  *   2. `MERGE INTO` computing the new hashes (`:84-111`)  → one file-level
  *      rewrite, atomic, ghost rows keep their zero/error keys
  *   3. keep the old values as `<hk>_deprecated` (`:51-69`) → metadata-only
  *      rename (the recoverability column the reference preserves for
  *      exactly the partial-failure case)
  *   4. the new column takes the hash column's name         → metadata-only
  *
  * Exactly ONE pass reads and rewrites data (step 2); every schema step is
  * an O(1) manifest commit, and each step is individually atomic — a crash
  * between steps leaves a consistent, recoverable table (the old hashes are
  * still present, either under their original name or `_deprecated`).
  */
object TxRehash {

  /** A leftover `_deprecated` OR `_updated` column means a previous rehash
    * is mid-flight (crashed between its commits) — either is recoverable
    * state that a blind retry would corrupt, so both fail with the
    * rehash-specific message rather than a generic 'column exists' deep
    * inside [[TxLogTable.addColumn]]. */
  private def requireClean(t: TxLogTable, table: String,
                           updated: String, deprecated: String): Unit = {
    val cols = t.read(table).columns
    Seq(deprecated, updated).foreach(c =>
      require(!cols.contains(c),
        s"TxRehash: $table.$c already exists — " +
          "finish or roll back the previous rehash first"))
  }

  /** Rehash a keyed entity's hash column from its key columns (hub business
    * keys, or a link's stored FK hashkeys pre-translated by the caller). */
  def rehashEntity(t: TxLogTable, table: String, hashCol: String,
                   keyColumns: Seq[String],
                   oldCfg: HashConfig, newCfg: HashConfig): Unit = {
    val updated = s"${hashCol}_updated"
    val deprecated = s"${hashCol}_deprecated"
    requireClean(t, table, updated, deprecated)
    // 1. typed NULL column, no data touched
    t.addColumn(table, updated, newCfg.typeDdl)
    // 2. the one data pass: every live file rewritten in one atomic commit
    val v = t.currentVersion(table).get
    t.replaceFiles(table, t.files(table, v)) { df =>
      // hashInputs = the same H7 datatype normalization staging applies —
      // a rehash must reproduce what the NEXT stage load will compute
      df.withColumn(updated, ghostGuard(hashCol, oldCfg, newCfg)(
        Hashing.hashkey(Hashing.hashInputs(df, keyColumns))(newCfg)))
    }
    // 3./4. old values survive as _deprecated; new column takes the name
    t.renameColumn(table, hashCol, deprecated)
    t.renameColumn(table, updated, hashCol)
  }

  /** Drop the `_deprecated` recovery column once the rehash is validated —
    * the reference's final cleanup step, metadata-only here. */
  def dropDeprecated(t: TxLogTable, table: String, hashCol: String): Unit =
    t.dropColumn(table, s"${hashCol}_deprecated")

  // ---- whole-vault rehash ------------------------------------------------
  // Reference `macros/rehashing/rehash_all_rdv_entities.sql:139-151`: hubs,
  // then links, then satellites, each through the single-entity MERGE + DDL
  // lifecycle on a LIVE table. The lifecycle keeps every entity's old→new
  // translation IN the entity itself as `<hk>_deprecated` (the column the
  // reference keeps on rehashed parents, `rehash_single_satellite.sql`) —
  // a crash between any two commits leaves a consistent, fully recoverable
  // vault, and the children's re-key joins read the committed parent
  // directly.

  final case class HubRehash(name: String, hashkey: String, businessKeys: Seq[String])
  final case class LinkHubRef(fkCol: String, hubName: String, businessKeys: Seq[String])
  final case class LinkRehash(name: String, linkHashkey: String, hubRefs: Seq[LinkHubRef],
                              additionalCols: Seq[String] = Nil)
  /** maKeys non-empty ⇒ MA satellite (grouped hashdiff); hashdiff None ⇒
    * NH satellite (hashkey only). */
  final case class SatRehash(name: String, hashkey: String, hashdiff: Option[String],
                             payload: Seq[String], parent: String, maKeys: Seq[String] = Nil)

  /** Ghost records keep their zero/error keys, translated to `newCfg`'s
    * (`rehash_single_hub.sql:84-111` — the MERGE's WHEN MATCHED guards on
    * the ghost keys); every other row takes `recompute`. */
  private def ghostGuard(hashCol: String, oldCfg: HashConfig, newCfg: HashConfig)(
      recompute: Column): Column =
    when(col(hashCol) === oldCfg.zeroKeyLit, newCfg.zeroKeyLit)
      .when(col(hashCol) === oldCfg.errorKeyLit, newCfg.errorKeyLit)
      .otherwise(recompute)

  /** A child row whose parent-map join missed has NO valid new key: keeping
    * the old one would commit a mixed-hash vault with no error raised.
    * `raise_error` fails the rewrite job on the first orphan row — checked
    * inline during the write, no extra counting pass. */
  private def requireMapped(mapped: Column, old: Column, entity: String,
                            parent: String): Column =
    coalesce(mapped, raise_error(concat(
      lit(s"rehash $entity: no $parent map row for key '"), old, lit("'"))))

  /** Rehash a whole raw vault on `t`. Per entity: one metadata-only ADD
    * COLUMN, ONE atomic data rewrite, two metadata-only RENAMEs — the exact
    * step sequence of [[rehashEntity]], so every intermediate state is
    * committed and recoverable. Old hashes survive as `<hk>_deprecated` on
    * every entity until [[dropDeprecatedAll]]. */
  def rehashAll(t: TxLogTable, hubs: Seq[HubRehash], links: Seq[LinkRehash],
                sats: Seq[SatRehash], oldCfg: HashConfig, newCfg: HashConfig): Unit = {

    // 1. hubs — after this each hub carries its own durable old→new map
    //    as (<hk>_deprecated, <hk>)
    hubs.foreach(h => rehashEntity(t, h.name, h.hashkey, h.businessKeys, oldCfg, newCfg))

    // 2. links: each FK re-keyed through its hub's (deprecated → current)
    //    columns; the link hashkey recomputed from ALL parent business keys
    //    (+ additional cols) in hub_config order (rehash_single_link
    //    semantics). A missing parent-map row fails the rewrite loudly —
    //    committing a mixed-hash vault silently is the one unrecoverable
    //    outcome (requireMapped).
    links.foreach(l => rehashLink(t, l, hubs, oldCfg, newCfg))

    // 3. satellites: re-keyed through the parent's (deprecated → current)
    //    pair; hashdiff recomputed from the sat's own payload under the new
    //    algorithm (grouped per (old hashkey, ldts) for MA sats — the
    //    rewrite covers ALL live files in one commit, so groups are
    //    complete by construction).
    sats.foreach(s => rehashSat(t, s, hubs, links, oldCfg, newCfg))
  }

  private def rehashLink(t: TxLogTable, l: LinkRehash, hubs: Seq[HubRehash],
                         oldCfg: HashConfig, newCfg: HashConfig): Unit = {
      val updated = s"${l.linkHashkey}_updated"
      val deprecated = s"${l.linkHashkey}_deprecated"
      requireClean(t, l.name, updated, deprecated)
      t.addColumn(l.name, updated, newCfg.typeDdl)
      val v = t.currentVersion(l.name).get
      // the FK columns now carry the hubs' NEW-config keys — their manifest
      // type must follow (a binary digest written through a stale 'string'
      // ColMap would be UTF-8-mangled by writeBatch's cast); replaceFiles
      // commits the retype atomically with this all-live-files rewrite
      t.replaceFiles(l.name, t.files(l.name, v),
        retype = l.hubRefs.map(_.fkCol -> newCfg.typeDdl).toMap) { df0 =>
        var df = df0
        var bkCols = Vector.empty[String]
        l.hubRefs.zipWithIndex.foreach { case (ref, i) =>
          val hub = hubs.find(_.name == ref.hubName).getOrElse(
            throw new IllegalArgumentException(
              s"link ${l.name}: hub ${ref.hubName} not in the hub list"))
          val renamedBks = ref.businessKeys.zipWithIndex.map { case (bk, j) => (bk, s"__bk_${i}_$j") }
          val mm = renamedBks.foldLeft(
            t.read(ref.hubName).select((col(s"${hub.hashkey}_deprecated").as(s"__old_$i") +:
              col(hub.hashkey).as(s"__new_$i") +: ref.businessKeys.map(col)): _*))(
            (d, p) => d.withColumnRenamed(p._1, p._2))
          df = df.join(mm, df(ref.fkCol) === mm(s"__old_$i"), "left")
          bkCols ++= renamedBks.map(_._2)
        }
        df = df.withColumn(updated,
          ghostGuard(l.linkHashkey, oldCfg, newCfg)(
            Hashing.hashkey(Hashing.hashInputs(df, bkCols ++ l.additionalCols))(newCfg)))
        l.hubRefs.zipWithIndex.foreach { case (ref, i) =>
          df = df.withColumn(ref.fkCol,
            ghostGuard(ref.fkCol, oldCfg, newCfg)(
              requireMapped(col(s"__new_$i"), col(ref.fkCol), l.name, ref.hubName)))
        }
        df.select(df0.columns.map(col).toIndexedSeq: _*)
      }
      t.renameColumn(l.name, l.linkHashkey, deprecated)
      t.renameColumn(l.name, updated, l.linkHashkey)
  }

  private def rehashSat(t: TxLogTable, s: SatRehash, hubs: Seq[HubRehash],
                        links: Seq[LinkRehash],
                        oldCfg: HashConfig, newCfg: HashConfig): Unit = {
      val parentHk = hubs.find(_.name == s.parent).map(_.hashkey)
        .orElse(links.find(_.name == s.parent).map(_.linkHashkey))
        .getOrElse(throw new IllegalArgumentException(
          s"satellite ${s.name}: parent ${s.parent} not in the hub/link lists"))
      val updated = s"${s.hashkey}_updated"
      val deprecated = s"${s.hashkey}_deprecated"
      requireClean(t, s.name, updated, deprecated)
      t.addColumn(s.name, updated, newCfg.typeDdl)
      val v = t.currentVersion(s.name).get
      // hashdiffs are recomputed under newCfg — retype with the rewrite
      // (see the link FK comment above)
      t.replaceFiles(s.name, t.files(s.name, v),
        retype = s.hashdiff.map(_ -> newCfg.typeDdl).toMap) { df0 =>
        val pmap = t.read(s.parent)
          .select(col(s"${parentHk}_deprecated").as("__old_hk"),
            col(parentHk).as("__new_hk")).distinct()
        var df = df0.join(pmap, df0(s.hashkey) === pmap("__old_hk"), "left")
        s.hashdiff.foreach { hd =>
          // hashInputs = the same H7 normalization the stage applies
          val payloadIn = Hashing.hashInputs(df0, s.payload)
          if (s.maKeys.nonEmpty) {
            val grouped = df0.groupBy(col(s.hashkey).as("__g_hk"), col("ldts").as("__g_ldts"))
              .agg(Hashing.maHashdiff(payloadIn, s.maKeys.map(col))(newCfg).as("__new_hd"))
            df = df.join(grouped,
              df(s.hashkey) === col("__g_hk") && df("ldts") === col("__g_ldts"), "left")
              .withColumn(hd, ghostGuard(hd, oldCfg, newCfg)(col("__new_hd")))
          } else {
            df = df.withColumn(hd,
              ghostGuard(hd, oldCfg, newCfg)(Hashing.hashdiff(payloadIn)(newCfg)))
          }
        }
        df.withColumn(updated,
            ghostGuard(s.hashkey, oldCfg, newCfg)(
              requireMapped(col("__new_hk"), col(s.hashkey), s.name, s.parent)))
          .select(df0.columns.map(col).toIndexedSeq: _*)
      }
      t.renameColumn(s.name, s.hashkey, deprecated)
      t.renameColumn(s.name, updated, s.hashkey)
  }

  /** Final cleanup once the whole-vault rehash is validated: drop every
    * entity's `_deprecated` recovery column — all metadata-only commits. */
  def dropDeprecatedAll(t: TxLogTable, hubs: Seq[HubRehash], links: Seq[LinkRehash],
                        sats: Seq[SatRehash]): Unit = {
    hubs.foreach(h => dropDeprecated(t, h.name, h.hashkey))
    links.foreach(l => dropDeprecated(t, l.name, l.linkHashkey))
    sats.foreach(s => dropDeprecated(t, s.name, s.hashkey))
  }

  /** YAML front end matching `rehash_all_rdv_entities.sql`'s document:
    * sections hubs / links / satellites / ma_satellites / nh_satellites,
    * run through [[rehashAll]]. */
  def rehashAllFromYaml(t: TxLogTable, yaml: String,
                        oldCfg: HashConfig, newCfg: HashConfig): Unit = {
    val doc = graft.meta.YamlLite.parse(yaml).asInstanceOf[Map[String, Any]]
    def list(k: String): Seq[Map[String, Any]] = doc.get(k) match {
      case Some(l: List[_]) => l.map(_.asInstanceOf[Map[String, Any]])
      case _ => Nil
    }
    def strs(v: Any): Seq[String] = v match {
      case l: List[_] => l.map(_.toString)
      case null => Nil
      case s => Seq(s.toString)
    }
    val hubs = list("hubs").map(h =>
      HubRehash(h("name").toString, h("hashkey").toString, strs(h("business_keys"))))
    val links = list("links").map { l =>
      LinkRehash(l("name").toString, l("link_hashkey").toString,
        l("hub_config").asInstanceOf[List[Any]].map { hc =>
          val m = hc.asInstanceOf[Map[String, Any]]
          LinkHubRef(m("hub_hashkey").toString, m("hub_name").toString, strs(m("business_keys")))
        },
        strs(l.getOrElse("additional_hash_input_cols", Nil)))
    }
    val sats =
      list("satellites").map(s => SatRehash(s("name").toString, s("hashkey").toString,
        Some(s("hashdiff").toString), strs(s("payload")), s("parent_entity").toString)) ++
      list("ma_satellites").map(s => SatRehash(s("name").toString, s("hashkey").toString,
        Some(s("hashdiff").toString), strs(s("payload")), s("parent_entity").toString,
        maKeys = strs(s("ma_keys")))) ++
      list("nh_satellites").map(s => SatRehash(s("name").toString, s("hashkey").toString,
        None, Nil, s("parent_entity").toString))
    rehashAll(t, hubs, links, sats, oldCfg, newCfg)
  }

  // ---- crash recovery ----------------------------------------------------

  /** What [[recoverEntity]] found and did. */
  sealed abstract class Recovery(val label: String)
  object Recovery {
    /** no rehash in flight — table is in its pre-rehash state */
    case object Clean extends Recovery("clean")
    /** rehash already complete (`_deprecated` present, hash column live) */
    case object Done extends Recovery("done")
    /** dropped an unpopulated `_updated` — the data pass never committed */
    case object RolledBack extends Recovery("rolled_back")
    /** completed the remaining metadata-only renames */
    case object Finished extends Recovery("finished")
  }

  /** Recover a table from a rehash that crashed between commits. Sound
    * because the lifecycle has exactly ONE data commit ([[TxLogTable
    * .replaceFiles]] swaps all live files atomically): `_updated` is either
    * fully NULL (the pass never committed — dropping the column restores
    * the pre-rehash state exactly, including link FKs and sat hashdiffs,
    * which are only touched in that same commit) or fully populated (the
    * pass committed — the rest of the lifecycle is metadata-only renames,
    * so finishing forward is safe regardless of which rename crashed).
    * Every intermediate state maps to one of the four [[Recovery]] cases;
    * anything else means outside interference and fails loudly. */
  def recoverEntity(t: TxLogTable, table: String, hashCol: String): Recovery = {
    val updated = s"${hashCol}_updated"
    val deprecated = s"${hashCol}_deprecated"
    val cols = t.read(table).columns.toSet
    (cols(hashCol), cols(updated), cols(deprecated)) match {
      case (true, false, false) => Recovery.Clean
      case (true, false, true)  => Recovery.Done
      case (false, true, true) => // crashed between the two renames
        t.renameColumn(table, updated, hashCol)
        Recovery.Finished
      case (true, true, false) => // crashed around the data pass
        if (t.read(table).filter(col(updated).isNotNull).isEmpty) {
          t.dropColumn(table, updated)
          Recovery.RolledBack
        } else {
          t.renameColumn(table, hashCol, deprecated)
          t.renameColumn(table, updated, hashCol)
          Recovery.Finished
        }
      case (hc, up, dep) => throw new IllegalStateException(
        s"TxRehash: $table is not in any rehash lifecycle state " +
          s"($hashCol=$hc, $updated=$up, $deprecated=$dep) — manual repair needed")
    }
  }

  /** Resume a crashed [[rehashAll]] of the SAME (oldCfg, newCfg) run: per
    * entity in hub → link → sat order, finish or roll back whatever the
    * crash left ([[recoverEntity]]), skip entities already rehashed, and
    * rehash the rest. After it returns the vault is exactly where a
    * non-crashing rehashAll would have left it (old hashes on every entity
    * as `_deprecated` until [[dropDeprecatedAll]]). Returns each entity's
    * recovery finding. MUST be called with the original run's configs: a
    * `Done` entity is trusted to carry `newCfg` hashes — resuming with a
    * DIFFERENT target config would silently mix hash configurations, so
    * clean up the previous rehash fully before starting a new one. */
  def resumeAll(t: TxLogTable, hubs: Seq[HubRehash], links: Seq[LinkRehash],
                sats: Seq[SatRehash], oldCfg: HashConfig,
                newCfg: HashConfig): Map[String, Recovery] = {
    var findings = Map.empty[String, Recovery]
    def step(table: String, hashCol: String)(rehash: => Unit): Unit = {
      val r = recoverEntity(t, table, hashCol)
      findings += table -> r
      r match {
        case Recovery.Clean | Recovery.RolledBack => rehash
        case Recovery.Done | Recovery.Finished    => () // already on newCfg
      }
    }
    hubs.foreach(h => step(h.name, h.hashkey)(
      rehashEntity(t, h.name, h.hashkey, h.businessKeys, oldCfg, newCfg)))
    links.foreach(l => step(l.name, l.linkHashkey)(
      rehashLink(t, l, hubs, oldCfg, newCfg)))
    sats.foreach(s => step(s.name, s.hashkey)(
      rehashSat(t, s, hubs, links, oldCfg, newCfg)))
    findings
  }
}

/** S8 — PIT cleanup on [[TxLogTable]]: the reference's
  * `DELETE FROM pit WHERE sdts NOT IN (SELECT sdts FROM snap WHERE
  * is_active)` (`macros/hooks/clean_up_pits.sql:128-136`) compiled onto
  * [[TxLogTable.replaceFiles]].
  *
  * Cost shape: the REWRITE is O(files holding doomed rows); the PROBE that
  * finds them is column-pruned (sdts + file name only) and, when per-file
  * sdts stats exist ([[TxLogTable.setStatsColumns]]), file-pruned too —
  * a file whose recorded min == max is decided entirely from the manifest
  * (single sdts value: doomed iff that value is inactive) and never read.
  * On an sdts-clustered PIT ([[TxLogTable.compact]] with `clusterBy(sdts)`)
  * that is every file, so BOTH phases touch O(deactivated snapshots) files
  * — the cost of dropping whole `sdts` partitions. Without stats the probe
  * falls back to scanning (sdts, file) of all live files.
  *
  * NULL semantics match the reference DELETE: `sdts NOT IN (...)` is never
  * true for a NULL sdts, so NULL-sdts rows are always kept. */
object TxPitCleaner {

  /** Returns (files rewritten, live files before). */
  def cleanUp(t: TxLogTable, pitTable: String, snapshotTable: String,
              sdts: String = "sdts", trigger: String = "is_active"): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val active = t.read(snapshotTable).filter(col(trigger)).select(sdts).distinct()
    val v = t.currentVersion(pitTable).getOrElse(
      throw new IllegalStateException(s"TxLogTable $pitTable does not exist"))
    val m = t.manifest(pitTable, v)
    val live = m.files
    val sdtsMap = m.cols.find(_.logical == sdts)
    // the active set is snapshot metadata — O(log t) rows under logarithmic
    // retention — so it is collected once, typed as the PIT column, for the
    // stat skip and the probe/rewrite predicate
    val activeVals = active.select(sdtsMap.fold(col(sdts))(c => col(sdts).cast(c.typeDdl)))
      .collect().flatMap(r => Option(r.get(0))).toSeq
    val stats = m.stats
    // min == max is the only SOUND stat skip for a set-membership DELETE: a
    // wider [min,max] can hide a doomed middle value even when both
    // endpoints are active. A single-valued file is decided when the stats
    // prove its value is no active value (doomed) or one of them (kept);
    // anything else is probed. (All-NULL files carry no min/max → probed,
    // then kept by the NULL rule.)
    val (decided, doomedByStats) = sdtsMap.filter(_ => stats.nonEmpty) match {
      case None => (Seq.empty[String], Seq.empty[String])
      case Some(c) =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThan, In, LessThan, Literal, Or}
        import org.apache.spark.sql.types.{DataType, StructField, StructType}
        val dt = DataType.fromDDL(c.typeDdl)
        val a = AttributeReference(c.physical, dt)()
        val schema = StructType(Seq(StructField(c.physical, dt)))
        val lits = activeVals.map(Literal.create(_, dt))
        def proves(f: String, e: Expression) =
          !graft.sources.StatsSkip.keep(stats.get(f), Seq(e), schema)
        val single = live.filter(f => stats.get(f).exists(st =>
          st.min.get(c.physical).exists(mn => st.max.get(c.physical).contains(mn))))
        val doomed = single.filter(f => proves(f, In(a, lits)))
        val kept = single.filter(f =>
          lits.exists(l => proves(f, Or(LessThan(a, l), GreaterThan(a, l)))))
        (doomed ++ kept, doomed)
    }
    val unsure = live.filterNot(decided.contains)
    // membership predicate against the ALREADY-COLLECTED active set: the
    // probe and the rewrite used to re-evaluate the snapshot scan (plus a
    // broadcast) each — two extra jobs per cleanup for a frame that is
    // already driver-side. An in-set literal keeps both single-scan.
    // Guarded: an unexpectedly huge active set falls back to the broadcast
    // join rather than a million-literal predicate.
    val inSet = activeVals.size <= 10000
    def isActive(c: org.apache.spark.sql.Column) = c.isin(activeVals: _*)
    val doomedByProbe =
      if (unsure.isEmpty) Seq.empty[String]
      else t.filesHolding(pitTable, v, unsure) { rows =>
        val probed = rows.filter(col(sdts).isNotNull) // NOT IN never deletes NULL sdts
        if (inSet) probed.filter(!isActive(col(sdts)))
        else probed.join(broadcast(active), Seq(sdts), "left_anti")
      }
    val touched = doomedByStats ++ doomedByProbe
    if (touched.nonEmpty)
      t.replaceFiles(pitTable, touched) { df =>
        // keep = active snapshots ∪ NULL-sdts rows (SQL NOT IN semantics)
        if (inSet) df.filter(col(sdts).isNull || isActive(col(sdts)))
        else {
          val keep = broadcast(active.withColumn("__active", lit(true)))
          df.join(keep, Seq(sdts), "left")
            .filter(col(sdts).isNull || col("__active"))
            .drop("__active")
        }
      }
    (touched.size, live.size)
  }
}
