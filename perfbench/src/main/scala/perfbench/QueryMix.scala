package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** `query_mix`: a seeded sample of registry queries (`SparkEntry.queries`)
  * that write no table and have an oracle, each written to the `noop` sink.
  * The sample takes one query from each family of [[QueryMix.Pool]], so
  * every seed runs a mix of the same shape; the loop runs each sampled
  * query once, in family order, while time remains. This is the
  * fixed-per-query-cost regime. It bypasses the commit and table-format
  * layers.
  *
  * Each execution's row count is observed on the fly; `run.py` compares
  * it to the query's DuckDB oracle over the same inputs, outside the timed
  * region.
  */
final class QueryMix(env: Env) extends Workload {
  val exercised = Seq("query.")

  private val rng = new scala.util.Random(env.seed)
  private val available = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  val sample: Seq[(String, String)] = QueryMix.Pool.toSeq.sortBy(_._1).flatMap { case (fam, qs) =>
    val usable = qs.filter(q => available.contains(q) && oracle.contains(q))
    if (usable.isEmpty) None else Some(fam -> usable(rng.nextInt(usable.size)))
  }
  private val rows = mutable.Map.empty[String, mutable.Set[Long]]
  private val seconds = mutable.Map.empty[String, Seq[Double]]

  private def execute(q: String): Long = {
    val obs = Observation(q)
    available(q)(env.spark, env.input).observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Set-up warms the JVM with one fixed query, as `graft.Bench` does. */
  def setup(dir: Path): Unit = execute(QueryMix.WarmUp): Unit

  /** One pass over the sample: every query's cost is that of its first
    * execution in the process, as in `graft.Bench`. */
  def run(loop: Loop): Unit =
    sample.iterator.takeWhile(_ => loop.ops.isEmpty || loop.timeLeft)
      .foreach { case (_, q) =>
      var n = 0L
      if (loop.op("query") { n = execute(q); n }) {
        rows.getOrElseUpdate(q, mutable.Set.empty) += n
        seconds(q) = seconds.getOrElse(q, Nil) :+ loop.ops.last.seconds
      }
    }

  /** a unit of work is one query */
  def units(ops: Seq[Op]): Seq[Double] = ops.filter(_.ok).map(_.seconds)

  def check(): Seq[String] = rows.collect {
    case (q, ns) if ns.size > 1 => s"$q returned ${ns.toSeq.sorted.mkString(" and ")} rows"
  }.toSeq

  def named(ops: Seq[Op]): Map[String, Double] = {
    val perQuery = seconds.view.mapValues(Stats.median).toMap
    Map("query_total_s" -> perQuery.values.sum, "queries_run" -> perQuery.size.toDouble) ++
      Stats.latency("query_s", units(ops))
  }

  override def layers(ops: Seq[Op]): Map[String, Double] =
    sample.flatMap { case (fam, q) =>
      seconds.get(q).map(xs => s"query.family_s.$fam" -> Stats.median(xs))
    }.toMap

  override def artifact: Map[String, Any] = Map(
    "sample" -> sample.map(_._2),
    "oracle_sql" -> rows.keys.map(q => q -> oracle(q)).toMap,
    "spark_rows" -> rows.view.mapValues(_.head).toMap)
}

object QueryMix {
  val WarmUp = "stage_hash"

  /** Ten registry families, each with at least three queries that write no
    * table, have an oracle, and take under a second warm at TPC-H sf0.01 on
    * four cores. The seed picks one query per family. */
  val Pool: Map[String, Seq[String]] = Map(
    "asof" -> Seq("asof_join_events", "asof_join_forward", "asof_join_nearest"),
    "eff" -> Seq("eff_sat_additional_cols", "eff_sat_customer", "eff_sat_single_batch"),
    "event" -> Seq("event_anomaly_mad", "event_customer_enrichment", "event_dwell_time",
      "event_hour_heatmap", "event_seasonal_baseline", "event_sessions", "event_sliding_window",
      "event_spike_detection", "event_topk_paths", "event_transitions", "event_type_user_overlap"),
    "hub" -> Seq("hub_binary_hash", "hub_customer", "hub_incremental", "hub_incremental_multi",
      "hub_rsrc_static", "hub_rsrc_static_multi"),
    "mart" -> Seq("mart_dim_customer_scd2", "mart_fact_orders", "mart_snapshot_balance",
      "mart_star_rollup"),
    "pit" -> Seq("pit_customer", "pit_feature_join", "pit_multisat"),
    "ref" -> Seq("ref_hub_nation", "ref_sat_nation", "ref_sat_v1_nation", "ref_table_multi",
      "ref_table_nation", "ref_table_snapshot"),
    "sat" -> Seq("sat_v0_customer", "sat_v0_incremental", "sat_v1_customer"),
    "stage" -> Seq("stage_exclude_hashdiff", "stage_exclude_source_cols", "stage_ghost",
      "stage_hash", "stage_multi_active", "stage_prejoin_derived", "stage_rtrim_hashdiff",
      "stage_yaml_meta"),
    "tpch" -> Seq("tpch_q10_returns", "tpch_q11_important_stock", "tpch_q12_latency_class",
      "tpch_q13_custdist", "tpch_q14_promo", "tpch_q15_top_supplier", "tpch_q16_supplier_cnt",
      "tpch_q17_small_qty", "tpch_q18_topk", "tpch_q19_disc_revenue", "tpch_q1_pricing",
      "tpch_q20_promotion", "tpch_q21_waiting", "tpch_q22_opportunity", "tpch_q2_min_cost",
      "tpch_q3_topk", "tpch_q4_priority", "tpch_q5_local_supplier", "tpch_q6_forecast",
      "tpch_q7_volume", "tpch_q8_market_share", "tpch_q9_profit"))
}
