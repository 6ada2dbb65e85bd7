package graft.queries

import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkEntry}

/** Pins the size-guarded broadcast decision in the iterative graph loops
  * (kcore_peel / bfs_hops): per-round node sets are localCheckpointed, so
  * the planner sees the DEFAULT (huge) size and would plan every
  * semi/anti join as a full-edge SortMergeJoin; bcastIfSmall supplies the
  * decision AQE would make with real stats. A future
  * localCheckpoint/threshold change must not silently regress the loops
  * to per-round full-edge shuffles — and equally must not broadcast
  * unboundedly at scale. */
class GraphPlanSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** AQE off for `body`, then the prior setting back (unset if none) */
  private def withoutAqe(body: => Unit): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("kcore_peel semi joins broadcast at fixture scale, SMJ when broadcast is off") {
    withoutAqe {
      val plan = SparkEntry.queries("kcore_peel")(spark, sfDir)
        .queryExecution.executedPlan
      val bhj = plan.collect {
        case b: BroadcastHashJoinExec if b.joinType == LeftSemi => b
      }
      val smj = plan.collect { case s: SortMergeJoinExec => s }
      assert(bhj.size == 2,
        s"expected 2 broadcast semi joins at fixture scale, got ${bhj.size}")
      assert(smj.isEmpty, "fixture-scale node sets must not shuffle the edge set")

      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan2 = SparkEntry.queries("kcore_peel")(spark, sfDir)
          .queryExecution.executedPlan
        assert(plan2.collect { case b: BroadcastHashJoinExec => b }.isEmpty,
          "with broadcast disabled the guard must fall back, never force a hint")
        val smj2 = plan2.collect {
          case s: SortMergeJoinExec if s.joinType == LeftSemi => s
        }
        assert(smj2.size == 2, s"expected 2 SMJ semi joins, got ${smj2.size}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("bcastIfSmall: hint iff rows x 64B fits the threshold (bfs_hops guard)") {
    withoutAqe {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      // 10 KiB threshold: 160 rows * 64 B = 10240 fits exactly; 161 does not
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
      try {
        // RDD-backed frames report the DEFAULT (huge) size to the planner —
        // exactly the bfs/kcore loop shape after localCheckpoint — so only
        // bcastIfSmall's hint can broadcast here (spark.range carries
        // precise stats and would auto-broadcast regardless of the hint)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "src", org.apache.spark.sql.types.LongType)))
        def rddDf(rows: Long) = spark.createDataFrame(
          spark.sparkContext.parallelize(
            (0L until rows).map(org.apache.spark.sql.Row(_)), 2), schema)
        val edges = rddDf(1000)
        def joined(rows: Long) = {
          val nodes = rddDf(rows)
          edges.join(GraphQueries.bcastIfSmall(nodes, rows), Seq("src"), "leftsemi")
            .queryExecution.executedPlan
        }
        assert(joined(160).collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
          "160 rows x 64B == threshold: must broadcast")
        assert(joined(161).collect { case b: BroadcastHashJoinExec => b }.isEmpty,
          "161 rows x 64B > threshold: must fall back to the shuffle join")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert(joined(1).collect { case b: BroadcastHashJoinExec => b }.isEmpty,
          "threshold <= 0 disables the guard entirely")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }
}
