package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expr.HashConfig
import graft.runtime.TxLogTable

/** Structured-Streaming loader contract: micro-batches behave exactly like
  * incremental batch loads (idempotent, change-only). */
class StreamingSpec extends SparkSpec {
  implicit val hc: HashConfig = HashConfig()
  import spark.implicits._

  test("streaming hub sink: two micro-batches, replay-safe dedup") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val store = new TxLogTable(spark, wh)
    val input = MemoryStream[(String, String)]

    val staged = input.toDF().toDF("bk", "ldts_s")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("STREAM"))
      .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))

    val query = StreamingLoaders.hubSink(staged, store, "hub_s", "hk", "hk",
      Seq("bk"), Seq("bk"), checkpoint = s"$wh/_cp",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()

    input.addData(("k1", "2024-01-01 00:00:00"), ("k2", "2024-01-01 00:00:00"))
    query.processAllAvailable()
    assert(store.read("hub_s").count() == 2)

    // second micro-batch: one replayed key, one new
    input.addData(("k2", "2024-01-02 00:00:00"), ("k3", "2024-01-02 00:00:00"))
    query.processAllAvailable()
    query.stop()

    val hub = store.read("hub_s")
    assert(hub.count() == 3)
    assert(hub.groupBy("hk").count().filter($"count" > 1).count() == 0)
    // both micro-batches landed through appendOnce (exactly-once markers)
    assert(store.txnVersion("hub_s", s"hub-sink:$wh/_cp") == Some(1L))
  }

  test("withStateShards: shard count scopes the stream, restores the session, results identical") {
    implicit val sqlCtx = spark.sqlContext
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def runAt(shards: Int): Seq[(String, Long)] = {
      val wh = Files.createTempDirectory("graft_shards").toString
      val store = new TxLogTable(spark, wh)
      val input = MemoryStream[(String, String)]
      val staged = input.toDF().toDF("bk", "ldts_s")
        .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
        .withColumn("rsrc", lit("STREAM"))
        .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))
      StreamingLoaders.withStateShards(spark, shards) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == shards.toString)
        val q = StreamingLoaders.hubSink(staged, store, "hub_s", "hk", "hk",
          Seq("bk"), Seq("bk"), checkpoint = s"$wh/_cp",
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
        input.addData(("k1", "2024-01-01 00:00:00"), ("k2", "2024-01-01 00:00:00"))
        q.processAllAvailable()
        input.addData(("k2", "2024-01-02 00:00:00"), ("k3", "2024-01-02 00:00:00"))
        q.processAllAvailable(); q.stop()
      }
      val out = store.read("hub_s").select("bk", "ldts")
        .as[(String, java.sql.Timestamp)].collect().toSeq
        .map { case (bk, ts) => (bk, ts.getTime) }.sorted
      out
    }
    // the production knob: the same stream at two shard settings yields
    // identical tables — shard count is a throughput property, never a
    // correctness property
    val at2 = runAt(2)
    val at8 = runAt(8)
    assert(at2 == at8)
    assert(at2.map(_._1) == Seq("k1", "k2", "k3"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "session setting must be restored")
  }

  test("shardsFor: floor at harness scale, ~rows/2M in the middle, capped wide") {
    import StreamingLoaders._
    // harness fixtures (hundreds..hundreds of thousands of rows) → floor
    assert(shardsFor(0) == MinStateShards)
    assert(shardsFor(4500) == MinStateShards)
    assert(shardsFor(1999999) == MinStateShards)
    // production volumes follow the rows-per-shard rule
    assert(shardsFor(100L * 1000 * 1000) == 50)
    assert(shardsFor(1000L * 1000 * 1000) == 500)
    // never wider than the ceiling, monotone non-decreasing along the way
    assert(shardsFor(Long.MaxValue) == MaxStateShards)
    val samples = Seq(0L, 1L << 20, 1L << 24, 1L << 30, 1L << 40, Long.MaxValue)
    assert(samples.map(shardsFor) == samples.map(shardsFor).sorted)
  }

  test("streaming sat v0 sink: cross-batch change detection holds") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val store = new TxLogTable(spark, wh)
    val input = MemoryStream[(String, String, String)]

    val staged = input.toDF().toDF("bk", "ldts_s", "payload")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("STREAM"))
      .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))
      .withColumn("hd", graft.expr.Hashing.hashdiff(Seq($"payload")))

    val query = StreamingLoaders.satV0Sink(staged, store, "sat_s", "hk", "hd",
      Seq("payload"), checkpoint = s"$wh/_cp",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()

    input.addData(("k1", "2024-01-01 00:00:00", "A"))
    query.processAllAvailable()
    // same value again in a later micro-batch -> no new version
    input.addData(("k1", "2024-01-02 00:00:00", "A"))
    query.processAllAvailable()
    assert(store.read("sat_s").count() == 1)
    // changed value -> new version
    input.addData(("k1", "2024-01-03 00:00:00", "B"))
    query.processAllAvailable()
    query.stop()
    assert(store.read("sat_s").count() == 2)
  }

  test("stateful sat sink: state store carries last hashdiff across batches") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val store = new TxLogTable(spark, wh)
    val input = MemoryStream[(String, String, String)]

    val staged = input.toDF().toDF("bk", "ldts_s", "payload")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("STREAM"))
      .withColumn("hk", graft.expr.Hashing.hashkey(Seq($"bk")))
      .withColumn("hd", graft.expr.Hashing.hashdiff(Seq($"payload")))

    val query = StreamingLoaders.satV0StatefulTxSink(staged, store, "sat_st", "hk", "hd",
      checkpoint = s"$wh/_cp",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()

    // A -> A (same batch, LAG dedup) then A again (cross-batch, state dedup)
    input.addData(("k1", "2024-01-01 00:00:00", "A"), ("k1", "2024-01-02 00:00:00", "A"))
    query.processAllAvailable()
    assert(store.read("sat_st").count() == 1)
    input.addData(("k1", "2024-01-03 00:00:00", "A"))
    query.processAllAvailable()
    assert(store.read("sat_st").count() == 1)
    // change -> emitted; second key independent
    input.addData(("k1", "2024-01-04 00:00:00", "B"), ("k2", "2024-01-04 00:00:00", "X"))
    query.processAllAvailable()
    query.stop()
    val out = store.read("sat_st")
    assert(out.count() == 3)
    assert(out.filter($"payload" === "B").count() == 1)
  }

  test("stateful eff-sat: activation once, deactivation via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(String, String)]
    val staged = input.toDF().toDF("bk", "ldts_s")
      .withColumn("ldts", to_timestamp($"ldts_s")).drop("ldts_s")
      .withColumn("rsrc", lit("STREAM"))
      .withWatermark("ldts", "0 seconds")

    val statuses = StreamingLoaders.effSatStateful(staged, "bk", inactivity = "1 hour")
    val query = statuses.writeStream
      .format("memory").queryName("eff_status").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // k1 and k2 appear; k1 again (no duplicate activation)
    input.addData(("k1", "2024-01-01 10:00:00"), ("k2", "2024-01-01 10:10:00"))
    query.processAllAvailable()
    input.addData(("k1", "2024-01-01 10:30:00"))
    query.processAllAvailable()
    val afterActivation = spark.sql("SELECT hk, is_active FROM eff_status").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(afterActivation == Set(("k1", true), ("k2", true)))

    // k1 keeps flowing, k2 goes silent: watermark moves past k2's timeout
    // (10:10 + 1h) → SYSTEM deactivation for k2 only
    input.addData(("k1", "2024-01-01 12:30:00"))
    query.processAllAvailable()
    input.addData(("k1", "2024-01-01 12:40:00")) // extra batch to fire timeouts
    query.processAllAvailable()
    query.stop()
    val deact = spark.sql("SELECT hk, rsrc FROM eff_status WHERE NOT is_active").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(deact == Set(("k2", "SYSTEM")))
  }

  test("watermarked windowed event counts emit finalized windows only") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(String, String)]
    val events = input.toDF().toDF("ts_s", "event_type")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val agg = StreamingLoaders.windowedEventCounts(events, "ts", "1 hour", "30 minutes")
    val query = agg.writeStream
      .format("memory").queryName("win_counts").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    input.addData(("2024-01-01 10:05:00", "click"), ("2024-01-01 10:20:00", "click"),
      ("2024-01-01 10:40:00", "view"))
    query.processAllAvailable()
    // watermark still at 10:40 - 30m => window [10:00,11:00) not final yet
    assert(spark.sql("SELECT * FROM win_counts").count() == 0)
    // event at 12:00 pushes watermark to 11:30 > 11:00 => finalize
    input.addData(("2024-01-01 12:00:00", "click"))
    query.processAllAvailable()
    query.stop()
    val rows = spark.sql("SELECT event_type, n_events FROM win_counts ORDER BY event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("click", 2L), ("view", 1L)))
  }

  test("streaming windowed sketches: finalized blobs re-aggregate to the global distinct") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(String, String, Long)]
    val events = input.toDF().toDF("ts_s", "event_type", "user_id")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val agg = StreamingLoaders.windowedUserSketches(events, "ts",
      windowLength = "1 hour", lateness = "30 minutes")
    val query = agg.writeStream
      .format("memory").queryName("win_sketch").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // window [10:00,11:00): users 1,2,3 on click (3 distinct, one repeat),
    // user 2 on view; window [11:00,12:00): users 2,4 on click
    input.addData(("2024-01-01 10:05:00", "click", 1L),
      ("2024-01-01 10:10:00", "click", 2L), ("2024-01-01 10:20:00", "click", 2L),
      ("2024-01-01 10:40:00", "click", 3L), ("2024-01-01 10:45:00", "view", 2L),
      ("2024-01-01 11:15:00", "click", 2L), ("2024-01-01 11:30:00", "click", 4L))
    query.processAllAvailable()
    // watermark 11:30 - 30m = 11:00 ⇒ only [10:00,11:00) finalized
    val firstRows = spark.table("win_sketch")
      .select("event_type", "n_ids_approx")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(firstRows == Set(("click", 3L), ("view", 1L)),
      s"first window estimates must be exact at this cardinality, got $firstRows")
    input.addData(("2024-01-01 13:00:00", "click", 9L))
    query.processAllAvailable()
    query.stop()

    // the emitted blobs ARE the sketch table: a batch rollup over them
    // must reproduce the stream-wide distinct count without the raw ids
    val rolled = spark.table("win_sketch").filter($"event_type" === "click")
      .agg(expr("hll_sketch_estimate(hll_union_agg(id_sketch))"))
      .collect().head.getLong(0)
    assert(rolled == 4L, s"union over window blobs must see users 1,2,3,4, got $rolled")
  }

  test("streaming windowed KLL: per-window quantiles exact, blobs merge to global") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(String, String, Long)]
    val events = input.toDF().toDF("ts_s", "event_type", "latency_ms")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val agg = StreamingLoaders.windowedQuantileSketches(events, "ts",
      "latency_ms", windowLength = "1 hour", lateness = "30 minutes")
    val query = agg.writeStream
      .format("memory").queryName("win_kll").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // window [10:00,11:00): click latencies 10..90 (9 values, p50 = 50)
    input.addData((1 to 9).map(i =>
      (f"2024-01-01 10:0$i:00", "click", i * 10L)): _*)
    // advance the watermark past 11:00 to finalize the first window
    input.addData(("2024-01-01 11:45:00", "click", 1000L))
    query.processAllAvailable()
    val first = spark.table("win_kll")
      .select("event_type", "p50_approx", "p90_approx")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(first == Set(("click", 50L, 90L)),
      s"below capacity the window quantiles are exact, got $first")
    query.stop()

    // the emitted blobs ARE the sketch table: a batch merge over them must
    // reproduce the global distribution without the raw values
    val global = spark.table("win_kll")
      .agg(collect_list($"val_sketch").as("ls"))
      .select(expr("kll_sketch_get_quantile_bigint(" +
        "aggregate(slice(ls, 2, size(ls) - 1), ls[0], " +
        "(a, x) -> kll_sketch_merge_bigint(a, x)), 0.5)"))
      .collect().head.getLong(0)
    assert(global == 50L,
      s"merged blobs over 9 small + 0 later values must keep p50=50, got $global")
  }

  test("streaming drift: per-window KL against the baseline, zero when matching") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(String, String)]
    val docs = input.toDF().toDF("ts_s", "text")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    // baseline: a=0.5, b=0.25, c=0.25
    val baseline = Map("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)
    val drift = StreamingLoaders.windowedDriftStream(docs, "text", "ts",
      baseline, windowLength = "1 hour", lateness = "30 minutes")
    val query = drift.writeStream
      .format("memory").queryName("drift_stream").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // window 1 matches the baseline exactly (KL = 0); window 2 is all-'b'
    // (KL = ln(1/0.25) = ln 4)
    input.addData(("2024-01-01 10:05:00", "a a b c"),
      ("2024-01-01 10:40:00", "a a b c"),
      ("2024-01-01 11:10:00", "b b b b"))
    query.processAllAvailable()
    input.addData(("2024-01-01 13:00:00", "a")) // watermark finalizes both
    query.processAllAvailable()
    query.stop()

    val rows = spark.table("drift_stream")
      .select("window_start", "n_tokens", "kl_nats")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(rows.length == 2, s"both closed windows must emit, got ${rows.toSeq}")
    val (w1, w2) = (rows(0), rows(1))
    assert(w1._2 == 8 && math.abs(w1._3) < 1e-9,
      s"matching window must have KL 0, got $w1")
    assert(w2._2 == 4 && math.abs(w2._3 - math.log(4)) < 1e-9,
      s"all-b window must have KL ln4, got $w2")
  }

  test("streaming exact dedup: one survivor per content hash within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val deduped = StreamingLoaders.dedupExactStream(docs, "text", "ts", "1 hour")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // same text arrives three times within the horizon, one distinct text
    input.addData((1L, "2024-01-01 10:00:00", "same text"),
      (2L, "2024-01-01 10:05:00", "same text"),
      (3L, "2024-01-01 10:10:00", "other text"))
    query.processAllAvailable()
    // a second batch with yet another duplicate, still inside the horizon
    input.addData((4L, "2024-01-01 10:20:00", "same text"))
    query.processAllAvailable()
    query.stop()
    val got = spark.sql("SELECT doc_id, text FROM dedup_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "same text"), (3L, "other text")),
      s"expected first-arrival survivors only, got $got")
  }

  test("streaming LSH candidates: bucket state emits pairs across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")

    val cands = StreamingLoaders.lshCandidatesStream(docs)
    val query = cands.writeStream
      .format("memory").queryName("lsh_stream").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    val shared = "the quick brown fox jumps over the lazy dog again and again"
    // batch 1: two identical docs (same signature → same buckets → pair),
    // one unrelated doc
    input.addData((1L, shared), (2L, shared),
      (3L, "completely different words that share nothing at all here"))
    query.processAllAvailable()
    // batch 2: a third copy arrives LATER — pairs against the stored members
    input.addData((4L, shared))
    query.processAllAvailable()
    query.stop()
    val got = spark.sql("SELECT DISTINCT doc_id, doc_id_2 FROM lsh_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"expected the identical trio's pairs across batches, got $got")
  }

  test("streaming LSH: a bucket crossing the cap mid-stream retracts to batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")

    val cands = StreamingLoaders.lshCandidatesStream(docs, maxBucketSize = 2)
    val query = cands.writeStream
      .format("memory").queryName("lsh_cap").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    val hot = "the quick brown fox jumps over the lazy dog again and again"
    val cold = "completely different words that share nothing at all here"
    // batch 1: hot bucket fills to the cap (pair 1-2 EMITTED), cold pair 5-6
    input.addData((1L, hot), (2L, hot), (5L, cold), (6L, cold))
    query.processAllAvailable()
    // batch 2: doc 3 pushes the hot bucket OVER the cap → tombstone
    input.addData((3L, hot))
    query.processAllAvailable()
    // batch 3: post-overflow arrivals stay suppressed (no extra tombstones)
    input.addData((4L, hot))
    query.processAllAvailable()
    query.stop()

    val all = spark.table("lsh_cap")
    // resolving tombstones must reproduce the batch operator exactly: the
    // degenerate bucket contributes NOTHING, retroactively
    val resolved = StreamingLoaders.applyCandidateTombstones(all)
      .select("doc_id", "doc_id_2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resolved == Set((5L, 6L)),
      s"over-cap bucket must contribute nothing after resolution, got $resolved")
    // the raw stream DID emit the early hot pair — the retraction is real
    val raw = all.filter(!col("tombstone")).select("doc_id", "doc_id_2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(raw.contains((1L, 2L)), s"pre-overflow pair should have been emitted, got $raw")
    // exactly one tombstone per overflowed bucket
    val tombs = all.filter(col("tombstone")).select("bucket")
      .collect().map(_.getString(0)).toSeq
    assert(tombs.nonEmpty && tombs.size == tombs.distinct.size,
      s"one tombstone per bucket, got $tombs")
  }

  test("streaming LSH candidates: idle buckets evict at the event-time horizon") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withWatermark("ts", "0 seconds")

    val cands = StreamingLoaders.lshCandidatesStream(docs,
      tsCol = Some("ts"), inactivity = "1 hour")
    val query = cands.writeStream
      .format("memory").queryName("lsh_evict").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    val shared = "the quick brown fox jumps over the lazy dog again and again"
    input.addData((1L, "2024-01-01 10:00:00", shared))
    query.processAllAvailable()
    // watermark sails far past 10:00 + 1h → doc 1's buckets evict
    input.addData((9L, "2024-01-01 14:00:00",
      "completely different words that share nothing at all here"))
    query.processAllAvailable()
    input.addData((9L, "2024-01-01 15:00:00",
      "completely different words that share nothing at all here"))
    query.processAllAvailable()
    // doc 2 arrives AFTER eviction: same text as doc 1, but no pair — the
    // horizon contract (far-apart duplicates are the batch pass's job)
    input.addData((2L, "2024-01-01 16:00:00", shared))
    query.processAllAvailable()
    query.stop()
    val pairs = spark.sql("SELECT doc_id, doc_id_2 FROM lsh_evict")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((1L, 2L)),
      s"doc 1's bucket state must have been evicted, got $pairs")
  }

  test("streaming LSH: a tombstoned bucket stays dead across the eviction horizon") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts_s", "text")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withWatermark("ts", "0 seconds")

    val cands = StreamingLoaders.lshCandidatesStream(docs, maxBucketSize = 2,
      tsCol = Some("ts"), inactivity = "1 hour")
    val query = cands.writeStream
      .format("memory").queryName("lsh_dead").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    val hot = "the quick brown fox jumps over the lazy dog again and again"
    val cold = "completely different words that share nothing at all here"
    // fill to the cap, then overflow → tombstone (doc 3 must sit ABOVE the
    // 10:00 watermark batch 1 establishes, or it is dropped as late data)
    input.addData((1L, "2024-01-01 10:00:00", hot), (2L, "2024-01-01 10:00:00", hot))
    query.processAllAvailable()
    input.addData((3L, "2024-01-01 10:30:00", hot))
    query.processAllAvailable()
    // watermark sails past 11:00 — a NON-overflowed bucket would evict
    input.addData((9L, "2024-01-01 14:00:00", cold))
    query.processAllAvailable()
    input.addData((9L, "2024-01-01 15:00:00", cold))
    query.processAllAvailable()
    // re-arrivals in the tombstoned bucket after the horizon: the
    // bucket-keyed tombstone would wrongly retract any new pair, so the
    // bucket must emit NOTHING and must not re-tombstone
    input.addData((10L, "2024-01-01 16:00:00", hot), (11L, "2024-01-01 16:00:00", hot))
    query.processAllAvailable()
    query.stop()

    val all = spark.table("lsh_dead")
    val postPairs = all.filter(!col("tombstone"))
      .select("doc_id", "doc_id_2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!postPairs.contains((10L, 11L)),
      s"tombstoned bucket must stay dead after the horizon, got $postPairs")
    val tombs = all.filter(col("tombstone")).select("bucket")
      .collect().map(_.getString(0)).toSeq
    assert(tombs.size == tombs.distinct.size,
      s"re-overflow must not duplicate tombstones, got $tombs")
    val resolved = StreamingLoaders.applyCandidateTombstones(all)
      .select("doc_id", "doc_id_2").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!resolved.exists(p => Set(1L, 2L, 3L, 10L, 11L)(p._1)),
      s"no hot-bucket pair survives resolution, got $resolved")
  }

  test("streaming sessionization: intra-batch gaps close, timeout closes the tail") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String, Double)]
    val staged = input.toDF().toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withWatermark("ts", "0 seconds")

    val sessions = StreamingLoaders.sessionizeStream(staged, gap = "30 minutes")
    val query = sessions.writeStream
      .format("memory").queryName("sessions").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // user 1: two events 10 min apart, then a 2-hour gap INSIDE one batch
    // → first session closes immediately with n=2
    input.addData((1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0), (1L, "2024-01-01 12:30:00", 4.0))
    query.processAllAvailable()
    val afterBatch = spark.sql(
      "SELECT user_id, n_events, session_value FROM sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(afterBatch.toSet == Set((1L, 2L, 3.0)),
      s"intra-batch gap must close the first session, got ${afterBatch.toSeq}")

    // user 2 keeps the watermark moving; once it passes 12:30 + 30min,
    // user 1's open tail times out and emits
    input.addData((2L, "2024-01-01 14:00:00", 1.0))
    query.processAllAvailable()
    input.addData((2L, "2024-01-01 14:10:00", 1.0)) // extra batch fires timeouts
    query.processAllAvailable()
    query.stop()
    val all = spark.sql(
      "SELECT user_id, n_events, session_value FROM sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(all.contains((1L, 1L, 4.0)),
      s"timeout must close user 1's single-event tail, got $all")
    // user 2 is still active (no gap, watermark at its own last event):
    // nothing emitted for it
    assert(!all.exists(_._1 == 2L), s"user 2's session is still open, got $all")
  }

  test("decayed engagement: stream state equals the batch half-life formula") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val input = MemoryStream[(Long, String, Double)]
    val staged = input.toDF().toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val feats = StreamingLoaders.decayedEngagementStream(staged, halfLifeDays = 7.0)
    val query = feats.writeStream
      .format("memory").queryName("decay").outputMode("update")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // three micro-batches; user 2's second batch carries a LATE event
    // (10:00, older than its 12:00 state) that must discount itself
    val batches = Seq(
      Seq((1L, "2024-01-01 10:00:00", 10.0), (2L, "2024-01-01 09:00:00", 4.0)),
      Seq((1L, "2024-01-08 10:00:00", 6.0), (2L, "2024-01-01 12:00:00", 2.0)),
      Seq((2L, "2024-01-01 10:00:00", 8.0)))
    batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    query.stop()

    // latest update per user = final state
    val got = spark.sql(
      """SELECT user_id, decayed_value, n_events FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY last_event_us DESC, n_events DESC) AS rn FROM decay)
        |WHERE rn = 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap

    // batch formula: sum(v_i * exp(-ln2/7d * (t_last - t_i))) per user
    val lambda = math.log(2) / (7.0 * 86400e6)
    def us(s: String) = java.sql.Timestamp.valueOf(s).getTime * 1000L
    def batchScore(evs: Seq[(String, Double)]): Double = {
      val last = evs.map(e => us(e._1)).max
      evs.map { case (t, v) => v * math.exp(-lambda * (last - us(t))) }.sum
    }
    val want1 = batchScore(Seq(("2024-01-01 10:00:00", 10.0), ("2024-01-08 10:00:00", 6.0)))
    val want2 = batchScore(Seq(("2024-01-01 09:00:00", 4.0),
      ("2024-01-01 12:00:00", 2.0), ("2024-01-01 10:00:00", 8.0)))
    assert(got(1L)._2 == 2L && got(2L)._2 == 3L, s"event counts: $got")
    assert(math.abs(got(1L)._1 - want1) < 1e-9,
      s"user 1: got ${got(1L)._1}, want $want1 (one half-life → 10/2 + 6 = 11)")
    assert(math.abs(got(2L)._1 - want2) < 1e-9,
      s"user 2 (with late event): got ${got(2L)._1}, want $want2")
  }

  test("sessionization parity: custom stream equals Spark's built-in session_window") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    // two users, three sessions each, all gaps > 30m so every session
    // closes; a final far-future row per user flushes the last timeout
    // batches must be chronologically non-decreasing: the 0-second
    // watermark drops anything older than the previous batch's max ts
    val rows = Seq(
      (2L, "2024-01-01 09:00:00", 5.0), (2L, "2024-01-01 09:20:00", 1.0),
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:10:00", 2.0), (1L, "2024-01-01 12:00:00", 3.0),
      (2L, "2024-01-01 13:00:00", 2.0),
      (1L, "2024-01-02 10:00:00", 9.0), (2L, "2024-01-02 10:00:00", 9.0))
    val input = MemoryStream[(Long, String, Double)]
    val staged = input.toDF().toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withWatermark("ts", "0 seconds")
    val query = StreamingLoaders.sessionizeStream(staged, gap = "30 minutes")
      .writeStream.format("memory").queryName("sw_sessions")
      .outputMode("append").option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    rows.grouped(3).foreach { b => input.addData(b: _*); query.processAllAvailable() }
    // one more watermark push so the 01-02 tails also time out
    input.addData((3L, "2024-01-03 10:00:00", 0.0)); query.processAllAvailable()
    input.addData((3L, "2024-01-03 11:00:00", 0.0)); query.processAllAvailable()
    query.stop()
    val got = spark.sql(
      """SELECT user_id, session_start, n_events, session_value
        |FROM sw_sessions WHERE user_id < 3""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
      .toSet
    // Spark's BUILT-IN session_window over the same batch input is the
    // reference semantics
    val want = rows.toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s"))
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
      .select($"user_id", $"session_window.start", $"n", $"v")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want, s"custom stream $got\n  != built-in session_window $want")
  }

  test("cdc sink: changes feed accumulates I/U history, snapshot converges") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val store = new TxLogTable(spark, s"$wh/store")
    val input = MemoryStream[(Long, String)]
    val staged = input.toDF().toDF("k", "v")

    val query = StreamingLoaders.cdcSink(staged, store, "t", Seq("k"), s"$wh/_cp")
    input.addData((1L, "a"), (2L, "b")); query.processAllAvailable()
    input.addData((2L, "B"), (3L, "c")); query.processAllAvailable()
    input.addData((2L, "B")); query.processAllAvailable() // no-op update
    query.stop()

    val snap = store.read("t").as[(Long, String)].collect().toSet
    assert(snap == Set((1L, "a"), (2L, "B"), (3L, "c")), s"snapshot: $snap")
    val changes = store.read("t_changes")
      .select("op", "k", "old_v", "new_v")
      .as[(String, Long, Option[String], Option[String])].collect().toSet
    assert(changes == Set(
      ("I", 1L, None, Some("a")), ("I", 2L, None, Some("b")),
      ("U", 2L, Some("b"), Some("B")), ("I", 3L, None, Some("c"))),
      s"changes feed: $changes — the third batch must add NOTHING")
  }

  test("spike scorer: stream emissions equal the batch trailing-window z-score") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    // 30 finalized hourly counts for one type: flat ~10±2 with a burst at
    // hour 28 — exactly the batch query's input grain
    val ns: Seq[Long] = (0 until 30).map {
      case 28 => 60L
      case h  => 10L + (h % 5) - 2L
    }
    val hourTs = (h: Int) => f"2024-01-${1 + h / 24}%02d ${h % 24}%02d:00:00"
    val rows = ns.zipWithIndex.map { case (n, h) => ("click", hourTs(h), n) }

    val input = MemoryStream[(String, String, Long)]
    val staged = input.toDF().toDF("event_type", "hour_s", "n")
      .withColumn("hour", to_timestamp($"hour_s")).drop("hour_s")
    val scored = StreamingLoaders.spikeScoreStream(staged)
    val query = scored.writeStream
      .format("memory").queryName("spikes").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    // three chunks, plus a REPLAY of the middle chunk that must be ignored
    input.addData(rows.take(10): _*); query.processAllAvailable()
    input.addData(rows.slice(10, 20): _*); query.processAllAvailable()
    input.addData(rows.slice(10, 20): _*); query.processAllAvailable() // replay
    input.addData(rows.drop(20): _*); query.processAllAvailable()
    query.stop()
    val got = spark.sql(
      "SELECT hour_ms, n, baseline_mean, baseline_std, z, spike FROM spikes")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).sortBy(_._1)

    // batch reference: the event_spike_detection window over the same rows
    import org.apache.spark.sql.expressions.Window
    val hourly = rows.toDF("event_type", "hour_s", "n")
      .withColumn("hour", to_timestamp($"hour_s"))
    val w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-24, -1)
    val want = hourly
      .withColumn("bn", count($"n").over(w))
      .withColumn("bm", avg($"n").over(w))
      .withColumn("bs", stddev_pop($"n").over(w))
      .filter($"bn" >= 6)
      .withColumn("z", round(($"n" - $"bm") / $"bs", 4))
      .select(unix_millis($"hour"), $"n", round($"bm", 4), round($"bs", 4),
        $"z", $"z" >= 3.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).sortBy(_._1)

    assert(got.length == want.length, s"row counts: ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._6 == e._6, s"$g vs $e")
      assert(math.abs(g._3 - e._3) <= 1e-4 && math.abs(g._4 - e._4) <= 1e-4 &&
        math.abs(g._5 - e._5) <= 1e-4, s"$g vs $e")
    }
    assert(got.exists(_._6), "the hour-28 burst must flag as a spike")
  }

  test("stream-stream interval join: in-window pairs emit, watermark-late clicks drop") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val clicksIn = MemoryStream[(Long, Long, String)]
    val pursIn = MemoryStream[(Long, Long, String)]
    def ev(in: MemoryStream[(Long, Long, String)]) =
      in.toDF().toDF("user_id", "event_id", "ts_s")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val joined = StreamingLoaders.attributionJoinStream(
      ev(clicksIn), ev(pursIn), within = "1 hour", lateness = "10 minutes")
    val query = joined.writeStream
      .format("memory").queryName("attrib").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // user 1: two clicks inside the hour, one 2h stale; user 2: no click
    clicksIn.addData((1L, 100L, "2024-01-01 09:30:00"),
      (1L, 101L, "2024-01-01 09:50:00"), (1L, 102L, "2024-01-01 08:00:00"))
    pursIn.addData((1L, 200L, "2024-01-01 10:00:00"),
      (2L, 201L, "2024-01-01 10:00:00"))
    query.processAllAvailable()
    val got1 = spark.sql("SELECT purchase_id, click_id FROM attrib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 == Set((200L, 100L), (200L, 101L)),
      s"only user 1's in-window clicks may pair, got $got1")

    // advance BOTH watermarks well past 10:00, then replay an old click:
    // it is behind the watermark and must not produce a pair
    clicksIn.addData((9L, 900L, "2024-01-01 13:00:00"))
    pursIn.addData((9L, 901L, "2024-01-01 13:00:00"))
    query.processAllAvailable()
    clicksIn.addData((1L, 103L, "2024-01-01 09:55:00"))
    query.processAllAvailable()
    query.stop()
    val late = spark.sql("SELECT click_id FROM attrib WHERE click_id = 103")
    assert(late.isEmpty, "a click behind the watermark must be dropped")

    // the streamed pair set equals the batch predicate over the same rows
    val clicks = Seq((1L, 100L, "2024-01-01 09:30:00"),
      (1L, 101L, "2024-01-01 09:50:00"), (1L, 102L, "2024-01-01 08:00:00"),
      (9L, 900L, "2024-01-01 13:00:00"))
      .toDF("user_id", "click_id", "ts_s")
      .withColumn("click_ts", to_timestamp($"ts_s")).drop("ts_s")
    val purs = Seq((1L, 200L, "2024-01-01 10:00:00"),
      (2L, 201L, "2024-01-01 10:00:00"), (9L, 901L, "2024-01-01 13:00:00"))
      .toDF("user_id", "purchase_id", "ts_s")
      .withColumn("purchase_ts", to_timestamp($"ts_s")).drop("ts_s")
    val batch = purs.join(clicks, Seq("user_id"))
      .filter($"click_ts" <= $"purchase_ts" &&
        $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = spark.table("attrib").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"))).toSet
    assert(streamed == batch,
      s"streamed pairs $streamed must equal the batch predicate $batch")
  }

  test("stream-stream LEFT OUTER join: unmatched purchases emit NULL clicks after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val clicksIn = MemoryStream[(Long, Long, String)]
    val pursIn = MemoryStream[(Long, Long, String)]
    def ev(in: MemoryStream[(Long, Long, String)]) =
      in.toDF().toDF("user_id", "event_id", "ts_s")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

    val joined = StreamingLoaders.attributionLeftOuterStream(
      ev(clicksIn), ev(pursIn), within = "1 hour", lateness = "10 minutes")
    val query = joined.writeStream
      .format("memory").queryName("attrib_lo").outputMode("append")
      .option("checkpointLocation", s"$wh/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()

    // user 1 purchases with an in-window click; user 2 purchases with NO
    // click at all — the row the inner join loses
    clicksIn.addData((1L, 100L, "2024-01-01 09:30:00"))
    pursIn.addData((1L, 200L, "2024-01-01 10:00:00"),
      (2L, 201L, "2024-01-01 10:00:00"))
    query.processAllAvailable()
    val matched = spark.sql(
      "SELECT purchase_id, click_id FROM attrib_lo WHERE click_id IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched == Set((200L, 100L)), s"matched pair first, got $matched")
    assert(spark.sql(
      "SELECT 1 FROM attrib_lo WHERE purchase_id = 201").isEmpty,
      "the unmatched purchase must NOT emit while its window is open")

    // advance both watermarks far past user 2's join window → the null
    // row for purchase 201 must now be released
    clicksIn.addData((9L, 900L, "2024-01-01 14:00:00"))
    pursIn.addData((9L, 901L, "2024-01-01 14:00:00"))
    query.processAllAvailable()
    clicksIn.addData((9L, 902L, "2024-01-01 15:00:00"))
    pursIn.addData((9L, 903L, "2024-01-01 15:00:00"))
    query.processAllAvailable()
    query.stop()

    val nulls = spark.sql(
      "SELECT purchase_id FROM attrib_lo WHERE click_id IS NULL")
      .collect().map(_.getLong(0)).toSet
    assert(nulls.contains(201L),
      s"purchase 201 must emit with NULL click after watermark, got $nulls")

    // parity: streamed rows for the CLOSED windows equal the batch left
    // join over the same events
    val clicks = Seq((1L, 100L, "2024-01-01 09:30:00"),
      (9L, 900L, "2024-01-01 14:00:00"))
      .toDF("user_id", "click_id", "ts_s")
      .withColumn("click_ts", to_timestamp($"ts_s")).drop("ts_s")
    val purs = Seq((1L, 200L, "2024-01-01 10:00:00"),
      (2L, 201L, "2024-01-01 10:00:00"), (9L, 901L, "2024-01-01 14:00:00"))
      .toDF("user_id", "purchase_id", "ts_s")
      .withColumn("purchase_ts", to_timestamp($"ts_s")).drop("ts_s")
    val batch = purs.join(clicks,
        purs("user_id") === clicks("user_id") &&
          $"click_ts" <= $"purchase_ts" &&
          $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select($"purchase_id", $"click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val streamed = spark.table("attrib_lo")
      .filter($"purchase_id".isin(200L, 201L, 901L)).collect()
      .map(r => (r.getAs[Long]("purchase_id"),
        if (r.isNullAt(3)) -1L else r.getAs[Long]("click_id"))).toSet
    assert(streamed == batch,
      s"streamed left-outer rows $streamed must equal batch $batch")
  }

  test("quality router: keep/reject partition matches the batch gopher gate") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream").toString
    val store = new TxLogTable(spark, wh)
    val input = MemoryStream[(Long, String)]
    val staged = input.toDF().toDF("doc_id", "text")

    val query = StreamingLoaders.qualityRouterSink(staged, "text", store,
      "docs_keep", "docs_reject", checkpoint = s"$wh/_cp",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()

    val good = "the quick brown fox jumps over a lazy dog in front of the barn" // passes all rules
    val tooShort = "too short to pass"                       // < 10 words
    val symbols = "the $$$ a %%% and ### of @@@ to !!! in ^^^ the *** a (((" // symbol_ratio, frac_alpha
    input.addData((1L, good), (2L, tooShort), (3L, symbols))
    query.processAllAvailable()
    // second micro-batch exercises the per-batch persist/append cycle
    input.addData((4L, good + " and the cat sat on the mat of the house"))
    query.processAllAvailable()
    query.stop()

    val keep = store.read("docs_keep")
    val reject = store.read("docs_reject")
    assert(keep.select("doc_id").as[Long].collect().toSet == Set(1L, 4L),
      "rule-passing docs route to the keep table")
    assert(reject.select("doc_id").as[Long].collect().toSet == Set(2L, 3L),
      "rule-failing docs route to the reject table")

    // scored columns must equal the BATCH projection on the same rows —
    // the router provably applies the same policy as the batch audit
    val batchScored = graft.quality.TextRules.withGopherColumns(
      Seq((1L, good), (2L, tooShort), (3L, symbols)).toDF("doc_id", "text"), "text")
    val streamed = keep.unionByName(reject)
      .filter($"doc_id" <= 3).select("doc_id", "n_words", "mean_word_len",
        "frac_alpha", "stopword_hits", "symbol_ratio")
    assert(streamed.except(batchScored.select("doc_id", "n_words",
      "mean_word_len", "frac_alpha", "stopword_hits", "symbol_ratio")).isEmpty,
      "streamed scores equal the batch projection")

    // exactly-once: re-appending batch 0's keep rows with its already-
    // committed (appId, batchId) — what a post-crash foreachBatch replay
    // does — must be recognized and skipped, not duplicated
    val replayed = store.appendOnce("docs_keep",
      graft.quality.TextRules.withGopherColumns(
        Seq((1L, good)).toDF("doc_id", "text"), "text")
        .filter($"keep").drop("keep"),
      s"router=$wh/_cp/keep", 0L)
    assert(!replayed, "replay of a committed batch must be skipped")
    assert(store.read("docs_keep").count() == 2,
      "keep table must still hold exactly one copy per doc")
  }

  test("txlog sink: exactly-once across micro-batches and a simulated replay") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream_tx").toString
    val t = new TxLogTable(spark, wh)
    val input = MemoryStream[Long]
    val staged = input.toDF().toDF("id")

    val q = StreamingLoaders.txLogSink(staged, t, "evts", s"$wh/_cp",
      appId = Some("sinkA"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    input.addData(1L, 2L); q.processAllAvailable()
    input.addData(3L); q.processAllAvailable()
    q.stop()
    assert(t.read("evts").as[Long].collect().sorted === Array(1L, 2L, 3L))

    // simulate the at-least-once failure mode foreachBatch alone has: the
    // sink wrote batch 1 but the engine replays it — appendOnce must skip
    assert(!t.appendOnce("evts", Seq(3L).toDF("id"), "sinkA", 1L))
    assert(t.read("evts").count() === 3)
    // a NEW batch from the same app still lands
    assert(t.appendOnce("evts", Seq(4L).toDF("id"), "sinkA", 2L))
    assert(t.read("evts").count() === 4)
  }

  test("weighted reservoir: final state equals the batch A-ES top-k per group") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val staged = input.toDF().toDF("source", "doc_id", "n_chars")

    val out = StreamingLoaders.weightedReservoirStream(staged, k = 3)
      .writeStream.format("memory").queryName("reservoir_sink")
      .outputMode("update").start()

    // two micro-batches, arrival order scrambled vs id order; one replay;
    // one zero-weight row (NULL A-ES key) that must never claim a slot
    val batch1 = Seq(("s1", 5L, 100L), ("s1", 1L, 900L), ("s2", 7L, 50L),
      ("s1", 3L, 400L), ("s1", 9L, 0L))
    val batch2 = Seq(("s1", 2L, 700L), ("s1", 4L, 250L), ("s1", 1L, 900L), ("s2", 8L, 60L))
    input.addData(batch1: _*); out.processAllAvailable()
    input.addData(batch2: _*); out.processAllAvailable()
    out.stop()

    // The reservoir improves monotonically (an evicted id never returns),
    // so the FINAL state per group = top-k by the same ordering over the
    // distinct rows ever emitted. Compare that against the batch A-ES
    // top-3 computed with the SAME shared key function over the union.
    val emitted = spark.table("reservoir_sink").collect()
      .map(r => (r.getAs[String]("group"), r.getAs[Long]("id"),
        r.getAs[Double]("key"))).distinct
    val got = emitted.groupBy(_._1).map { case (g, rs) =>
      g -> rs.sortBy(t => (-t._3, t._2)).take(3).map(_._2).toSet
    }
    assert(!emitted.exists(_._2 == 9L),
      "a zero-weight row (NULL key) must never enter the reservoir")
    val want = (batch1 ++ batch2).distinct.toDF("source", "doc_id", "n_chars")
      .withColumn("key", graft.ops.Sampling.aresKey($"doc_id", $"n_chars"))
      .filter($"key".isNotNull)
      .collect()
      .groupBy(_.getAs[String]("source"))
      .map { case (g, rs) =>
        g -> rs.sortBy(r => (-r.getAs[Double]("key"), r.getAs[Long]("doc_id")))
          .take(3).map(_.getAs[Long]("doc_id")).toSet
      }
    assert(got === want, s"streamed reservoirs $got != batch top-k $want")
  }

  test("nb score sink: streamed predictions equal the batch scorer") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream_nb").toString
    val store = new TxLogTable(spark, wh)

    // batch-train the model on a small labeled corpus
    val corpus = Seq(
      (1L, "en", "the cat and the dog in the house"),
      (2L, "en", "a dog in a house of the cat"),
      (3L, "de", "der hund und die katze im haus"),
      (4L, "de", "die katze im haus und der hund"),
      (5L, "fr", "le chat et le chien dans la maison"),
      (6L, "fr", "la maison du chat et le chien")
    ).toDF("doc_id", "lang", "text")
    val model = graft.quality.NaiveBayes.train(corpus)

    val input = MemoryStream[(Long, String)]
    val staged = input.toDF().toDF("doc_id", "text")
    val q = StreamingLoaders.nbScoreSink(staged, model, store, "scored",
      checkpoint = s"$wh/_cp",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    val unseen = Seq((10L, "the dog and the cat"), (11L, "der hund im haus"),
      (12L, "le chien et le chat"))
    input.addData(unseen.take(2): _*); q.processAllAvailable()
    input.addData(unseen.drop(2): _*); q.processAllAvailable()
    q.stop()

    val streamed = store.read("scored")
      .select("doc_id", "pred_lang", "log_score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val batch = graft.quality.NaiveBayes
      .score(unseen.toDF("doc_id", "text"), model).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed === batch,
      s"streamed $streamed must equal batch scorer $batch")
    // sanity: the model actually separates the languages it was trained on
    assert(streamed.map(t => t._1 -> t._2).toMap ===
      Map(10L -> "en", 11L -> "de", 12L -> "fr"))
  }

  test("transformWithState event-time timers close idle sessions without a next event") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream_tmr").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val events = input.toDF().toDF("user_id", "ts_s")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      val sessions = StreamingLoaders.sessionTimerStream(events, gap = "10 minutes")
      val q = sessions.toDF().writeStream
        .format("memory").queryName("tmr_sessions").outputMode("append")
        .option("checkpointLocation", s"$wh/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      def batch(rows: (Long, String)*): Unit = {
        input.addData(rows: _*); q.processAllAvailable()
      }
      // user 1: two events 5m apart (one session); user 2: one event.
      // NEITHER user ever sends again — only the timer can close them.
      batch((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:05:00"),
        (2L, "2024-01-01 10:00:00"))
      assert(spark.table("tmr_sessions").isEmpty,
        "no session may close before the watermark passes its gap")
      // watermark rides user 9's clock past both timers (10:15 / 10:10)
      batch((9L, "2024-01-01 11:00:00"))
      batch((9L, "2024-01-01 11:00:01"))
      val afterIdle = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM tmr_sessions")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3))).toSet
      assert(afterIdle === Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 2L),
        (2L, "2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0", 1L)),
        s"timers must close users 1 and 2 with no further events: $afterIdle")
      // user 9 re-arms on each event; one more hop closes their first
      // session (in-batch split also exercised: 13:00 is a new session)
      batch((9L, "2024-01-01 13:00:00"), (9L, "2024-01-01 13:02:00"))
      batch((9L, "2024-01-01 15:00:00"))
      batch((9L, "2024-01-01 15:00:01"))
      q.stop()
      val all = spark.sql("SELECT user_id, n_events FROM tmr_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(all.count(_._1 == 9L) == 2,
        s"user 9 must have closed exactly the 11:00 and 13:00 sessions: ${all.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState running totals: final state equals batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_stream_tws").toString
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Long)]
      val staged = input.toDF().toDF("user_id", "cents")
      val totals = StreamingLoaders.runningTotalsStream(staged)
      val q = totals.toDF().writeStream
        .format("memory").queryName("tws_totals").outputMode("update")
        .option("checkpointLocation", s"$wh/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      val batches = Seq(
        Seq((1L, 100L), (2L, 40L), (1L, 25L)),
        Seq((2L, 60L), (3L, 7L)),
        Seq((1L, 5L), (3L, 3L), (3L, 10L)))
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // latest update per user = final running state
      val got = spark.sql(
        """SELECT user_id, n_events, cents FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY n_events DESC) AS rn FROM tws_totals)
          |WHERE rn = 1""".stripMargin)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = batches.flatten.groupBy(_._1).view
        .mapValues(vs => (vs.size.toLong, vs.map(_._2).sum)).toMap
      assert(got === want, s"stream state $got must equal batch totals $want")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }
}
