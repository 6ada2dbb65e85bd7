package graft.loaders

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.SystemColumns._
import graft.ops.Ops

/** One staged source feeding a hub/link/ref-hub (reference
  * `macros/supporting/source_models.sql:1-190`): positional key-column
  * mapping + optional rsrc_static pattern for per-source HWM.
  */
final case class EntitySource(
    df: DataFrame,
    hkColumn: Option[String],       // hashkey column in this source (hubs/links)
    keyColumns: Seq[String],        // business keys (hub) / FK hashkeys (link) / ref keys — positional
    rsrcStatic: Option[String] = None,   // single rsrc_static LIKE pattern …
    rsrcStatics: Seq[String] = Nil,      // … or several (hub.sql supports a list per source)
    additionalColumns: Seq[String] = Nil) {
  def allRsrcStatics: Seq[String] = rsrcStatics ++ rsrcStatic.toSeq
}

/** Shared loading shape of hub / link / non-historized link / ref hub:
  * per-source rename → HWM → UNION ALL → earliest-per-key dedup → anti-join
  * against target (reference `macros/tables/databricks/hub.sql:100-259`,
  * `link.sql`, `nh_link.sql`, `ref_hub.sql`).
  */
object KeyedEntityLoader {

  /** @param hashkeyAlias  target hashkey name; None for ref hubs (key = refKeys)
    * @param keyAliases    target-side names for the positional key columns
    * @param dedupKeys     the identity used for W1 dedup + anti-join
    */
  /** @param multiSourceHwm apply the global HWM to every source of a
    *   multi-source load (default; assumes ldts is the batch load
    *   timestamp shared by all sources). `false` restores the reference's
    *   exact guard (`hub.sql:173-179`: HWM only when a single source) —
    *   use it when a source can lag or backfill behind the others. */
  def records(
      sources: Seq[EntitySource],
      hashkeyAlias: Option[String],
      keyAliases: Seq[String],
      target: Option[DataFrame],
      disableHwm: Boolean = false,
      unionDistinct: Boolean = false,
      payloadAliases: Seq[String] = Nil,
      dedupEarliest: Boolean = true,
      multiSourceHwm: Boolean = true): DataFrame = {

    val dedupKeys = hashkeyAlias.map(Seq(_)).getOrElse(keyAliases)
    // the target's global HWM: one max(ldts) probe per target, run only
    // if a source takes that branch
    lazy val hwm = target.flatMap(Ops.hwm(_))

    val perSource = sources.map { s =>
      val keyed = hashkeyAlias match {
        case Some(hk) => Seq(col(s.hkColumn.get).as(hk))
        case None     => Nil
      }
      val keys = s.keyColumns.zip(keyAliases).map { case (src, tgt) => col(src).as(tgt) }
      val adds = s.additionalColumns.map(col) ++ payloadAliases.map(col)
      val proj = s.df.select((keyed ++ keys ++ adds ++ Seq(col(LdtsAlias), col(RsrcAlias))): _*)
      (target, s.allRsrcStatics) match {
        case _ if disableHwm    => proj
        case (Some(t), rs) if rs.nonEmpty =>
          // J3 — per-rsrc_static HWM; brand-new sources (no rows matching any
          // of their patterns yet) load fully (reference hub.sql:53-98 COUNT probe)
          val included = !t.filter(rs.map(col(RsrcAlias).like).reduce(_ || _)).isEmpty
          if (included) Ops.hwmPerRsrcStatic(proj, t, rs) else proj
        case (Some(_), _) if sources.size == 1 || multiSourceHwm =>
          // P6 — global HWM applied to EVERY source, not only single-source
          // loads (the reference guards on `source_models | length == 1`,
          // hub.sql:173-179, and full-scans every source otherwise — at
          // 100 TB that re-scan dominates the load). Safe when ldts is the
          // BATCH load timestamp (shared by all sources of a load, the same
          // monotonicity the single-source HWM already assumes); a lagging
          // or backfilling source opts out via multiSourceHwm=false
          // (reference-exact guard) or disableHwm.
          hwm.fold(proj)(h => proj.filter(col(LdtsAlias) > lit(h)))
        case _                  => proj
      }
    }

    var df = Ops.unionSources(perSource)
    if (unionDistinct) df = df.distinct()                // U3 (nh_link.sql:33-42)
    if (dedupEarliest) df = Ops.dedupEarliest(df, dedupKeys) // W1
    target match {
      case Some(t) => Ops.antiJoin(df, t, dedupKeys)     // J1
      case None    => df
    }
  }
}

object HubLoader {
  /** Reference `macros/tables/databricks/hub.sql`. */
  def records(sources: Seq[EntitySource], hashkey: String, businessKeys: Seq[String],
              target: Option[DataFrame], disableHwm: Boolean = false,
              multiSourceHwm: Boolean = true): DataFrame =
    KeyedEntityLoader.records(sources, Some(hashkey), businessKeys, target, disableHwm,
      multiSourceHwm = multiSourceHwm)
}

object LinkLoader {
  /** Reference `macros/tables/databricks/link.sql` — identical shape to hub
    * with FK hashkeys in place of business keys. */
  def records(sources: Seq[EntitySource], linkHashkey: String, fkHashkeys: Seq[String],
              target: Option[DataFrame], disableHwm: Boolean = false,
              multiSourceHwm: Boolean = true): DataFrame =
    KeyedEntityLoader.records(sources, Some(linkHashkey), fkHashkeys, target, disableHwm,
      multiSourceHwm = multiSourceHwm)
}

object NhLinkLoader {
  /** Reference `macros/tables/databricks/nh_link.sql` — link + payload;
    * union strategy 'all' (dedup earliest) or 'distinct'. */
  def records(sources: Seq[EntitySource], linkHashkey: String, fkHashkeys: Seq[String],
              payload: Seq[String], target: Option[DataFrame],
              unionDistinct: Boolean = false, disableHwm: Boolean = false): DataFrame =
    KeyedEntityLoader.records(sources, Some(linkHashkey), fkHashkeys, target,
      disableHwm, unionDistinct = unionDistinct, payloadAliases = payload)
}

object RefHubLoader {
  /** Reference `macros/tables/databricks/ref_hub.sql` — no hashkey; identity
    * is the ref-key combination (anti-join on all ref keys, `ref_hub.sql:220-228`). */
  def records(sources: Seq[EntitySource], refKeys: Seq[String],
              target: Option[DataFrame], disableHwm: Boolean = false): DataFrame =
    KeyedEntityLoader.records(sources, None, refKeys, target, disableHwm)
}
