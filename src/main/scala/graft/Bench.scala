package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Shared artifacts (the LSH candidate chain, the materialized MA staged
    // frame) are built once and consumed by several queries — the right
    // production shape, but under median-of-N every median (and their sum)
    // would report warm numbers and the dominant one-time cost would vanish
    // from the round's artifact. One canonical builder query per artifact
    // re-pays the cold build on EVERY pass so its median is the cold cost;
    // the other consumers stay warm, mirroring a pipeline where the
    // artifact already exists as a table.
    val coldEvict: Map[String, () => Unit] = Map(
      "minhash_lsh" -> (() => graft.queries.TextQueries.evictShared(spark)),
      "dedup_clusters" ->
        (() => graft.queries.TextQueries.evictShared(spark, labelsOnly = true)),
      "ma_stage_build" -> (() => graft.queries.DvQueries.evictShared()),
      // the blocked self-join + similarity kernel behind the ER suite:
      // er_match_weights re-pays it cold each pass, other consumers read
      // warm (candidates are a stored table in production)
      "er_match_weights" -> (() => graft.queries.ErQueries.evictShared(spark)),
      // the persisted 3-way join behind spearman_corr — release + re-price
      // per pass so the cached blocks never outlive the query's passes
      "spearman_corr" -> (() => graft.queries.SimQueries.evictShared(spark)))

    // force FULL computation of every output column (count() would let
    // Catalyst prune the projections we are benchmarking) — noop v2 sink.
    // A failed query yields Left(error), NOT a fail-fast wall time: round 5
    // recorded ~0.06s "timings" for 8 analysis-broken queries, silently
    // flattering the suite total.
    def run(name: String): Either[String, Double] = {
      coldEvict.get(name).foreach(_.apply())
      // label every job with its query (guide §1.5) so event-log profiles
      // attribute jobs to queries; O(1) thread-local set, not timed work
      spark.sparkContext.setJobDescription(s"bench:$name")
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        System.err.println(s"[bench] $name FAILED: $msg")
        Left(msg)
      } finally spark.sparkContext.setJobDescription(null)
    }

    // JIT/classloader warmup outside the measurement (driver measures the
    // same JSON we print, so keep the warmup query small)
    run("stage_hash")

    // local iteration: SPARK_GRAFT_ONLY=q1,q2 restricts the run;
    // SPARK_GRAFT_REPEAT=n sets the number of passes (default 3).
    //
    // Passes are INTERLEAVED (whole suite n times), not back-to-back per
    // query, and the per-query statistic is the MINIMUM across passes:
    // this machine takes multi-minute noisy-neighbor bursts (measured in
    // rounds 4-5 — e.g. one full run recorded 106s for a query that times
    // 1.1s on the very next run, while a different query spiked 4× in the
    // other direction), so the median of 3 back-to-back passes lands
    // entirely inside one burst and reports garbage. Widely-separated
    // passes decorrelate the noise; the min is the true cost of the plan.
    // Cold-build repricing is unaffected: the evict hooks fire before the
    // canonical builder query in EVERY pass, so its min is still a cold
    // build.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val passes = Seq.fill(repeat)(names.map(n => n -> run(n)).toMap)
    // a query is FAILED if any pass threw: deterministic plans don't
    // half-fail, so a partial failure means the number is untrustworthy.
    // Failed queries are excluded from the timing map and the total and
    // listed under "failed" — loud, never averaged in.
    val failed = names.flatMap { n =>
      passes.flatMap(_(n).left.toOption).headOption.map(n -> _)
    }
    val failedNames = failed.map(_._1).toSet
    val results = names.filterNot(failedNames)
      .map(n => n -> passes.map(_(n).toOption.get).min)
    // 4-decimal (0.1ms) timings keep the one-line artifact well under the
    // driver's stdout-capture truncation (r5 lost 77/141 tail entries)
    def fmt(v: Double): String = f"$v%.4f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def failedJson(msgChars: Int): String = failed.map { case (k, v) =>
      Verify.jsonQuote(k) + ":" + Verify.jsonQuote(v.take(msgChars))
    }.mkString("{", ",", "}")
    val fj = failedJson(Int.MaxValue)
    val total = results.map(_._2).sum
    // Key order matters: the driver keeps only the LAST ~2000 chars of
    // stdout, and the per-query map is the long part. Emit `queries`
    // FIRST and the headline summary keys {metric,value,unit,n,failed,sf}
    // LAST so a truncated tail still contains (and parses to) the
    // headline number. (r6/r7 both lost "value" to the tail cut.)
    val json = s"""{"queries":$qs,"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":$fj,"sf":"$sfDir"}"""
    println(json)
    // The driver keeps only the last ~2000 chars of stdout, so the
    // 418-entry line above survives headless in its capture and
    // PERF_r*.per_query has been empty since r11. Emit a SECOND, short
    // summary line (same schema; `queries` holds only the 30 slowest
    // entries — the ones regression triage needs; failure messages cut
    // to 80 chars) that fits the tail whole and parses. The full
    // per-query map and messages are unchanged above and persisted in
    // BENCH_full.json / target/bench.json.
    val top = results.sortBy(-_._2).take(30)
    val qsTop = top.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"note":"summary line: queries = 30 slowest of ${results.size}; full map in BENCH_full.json","queries":$qsTop,"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"failed":${failedJson(80)},"sf":"$sfDir"}""")
    // stdout capture can truncate long lines; persist the full artifact
    // twice — target/ for local runs, and BENCH_full.json at the repo
    // root (committed each round) so per-query regression triage never
    // depends on what survived the stdout tail cut
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
