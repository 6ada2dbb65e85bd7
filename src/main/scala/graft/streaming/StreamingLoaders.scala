package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.loaders.{EntitySource, HubLoader, SatV0Loader}
import graft.runtime.TxLogTable

/** Structured-Streaming front ends for the incremental loaders.
  *
  * The reference is batch/micro-batch only (scheduled `dbt run`; its HWM
  * filter is the watermark analogue — SURVEY §2.10). Our loaders are
  * per-micro-batch idempotent (dedup → anti-join against the target), which
  * makes them directly usable as `foreachBatch` sinks: each micro-batch is
  * one "delta load" in reference terms, and replays/late batches are
  * absorbed exactly like re-running a dbt incremental model.
  */
object StreamingLoaders {

  /** Run `body` with the stream's state/shuffle shard count scoped to
    * `shards`, restoring the session's setting afterwards.
    *
    * A stateful streaming operator materializes one state store PER
    * SHUFFLE PARTITION per micro-batch (a stream-stream join: four), so
    * the shard count is pure fixed cost at low volume and the parallelism
    * ceiling at high volume. It is a property of the STREAM (its key
    * cardinality and volume), not of the batch session — Spark pins it
    * into the checkpoint at first start, so it must be chosen when the
    * stream is born. Production callers size `shards` to stream volume
    * (e.g. keys/10⁶ or executor-core count); harness-scale streams want
    * single digits. The reference has no streaming surface; its analogue
    * is sizing the scheduler's micro-batch window (SURVEY §2.10).
    */
  def withStateShards[A](spark: org.apache.spark.sql.SparkSession, shards: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, shards.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Floor for [[shardsFor]]: even a tiny stream keeps a few shards so
    * replay/merge paths still cross shard boundaries in tests. */
  val MinStateShards = 4
  /** Ceiling for [[shardsFor]] — wider than any state store fleet a single
    * streaming query meaningfully drives. */
  val MaxStateShards = 4096
  /** Sizing rule: one state shard per ~2M keyed state rows. Below this a
    * shard is pure store-lifecycle overhead (open/commit/snapshot per
    * micro-batch); above it the shard becomes the parallelism ceiling and
    * its store outgrows executor memory. */
  val StateRowsPerShard = 2L * 1000 * 1000

  /** State/shuffle shard count for a stream whose keyed state is expected
    * to hold ~`approxStateRows` rows (dedup keys, open sessions, join rows
    * inside the watermark — an upper bound such as the staged input row
    * count is fine). Clamped to [[MinStateShards]]..[[MaxStateShards]];
    * harness-scale fixtures land on the floor, a 100 TB stream with 10⁹
    * keyed rows gets ~500 shards. Pass the result to [[withStateShards]]
    * when the stream is born — Spark pins the count into the checkpoint. */
  def shardsFor(approxStateRows: Long): Int =
    math.min(MaxStateShards.toLong,
      math.max(MinStateShards.toLong, approxStateRows / StateRowsPerShard)).toInt

  /** Continuously load a hub from a streaming staged source, exactly once:
    * each micro-batch lands through [[TxLogTable.appendOnce]] under
    * (`hub-sink:<checkpoint>`, batchId), so a replayed batch commits
    * nothing.
    * Usage: `hubSink(staged, table, ...).start()` */
  def hubSink(
      staged: DataFrame,
      table: TxLogTable,
      targetName: String,
      hashkey: String,
      hkColumn: String,
      businessKeys: Seq[String],
      bkColumns: Seq[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    exactlyOnce(staged, checkpoint, trigger) { (batch, batchId) =>
      appendHub(table, targetName, batch, batchId, s"hub-sink:$checkpoint",
        hashkey, hkColumn, businessKeys, bkColumns)
    }

  /** Continuously load a v0 satellite, exactly once (see [[hubSink]];
    * appId `sat-sink:<checkpoint>`).
    * Change-dedup (LAG) runs within each micro-batch; the cross-batch
    * change check is the anti-join against the target's latest (hashkey,
    * hashdiff) — same contract as the batch loader's NOT EXISTS
    * (sat_v0.sql:131-142). */
  def satV0Sink(
      staged: DataFrame,
      table: TxLogTable,
      targetName: String,
      hashkey: String,
      hashdiff: String,
      payload: Seq[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    exactlyOnce(staged, checkpoint, trigger) { (batch, batchId) =>
      appendSatV0(table, targetName, batch, batchId, s"sat-sink:$checkpoint",
        hashkey, hashdiff, payload)
    }

  /** The per-batch hub body of [[hubSink]] and [[vaultSink]]: the batch
    * loader over one micro-batch, landed through `appendOnce`. HWM is
    * meaningless inside a single micro-batch — the anti-join carries the
    * idempotence; the txn marker carries exactly-once. */
  private def appendHub(table: TxLogTable, targetName: String, batch: DataFrame,
                        batchId: Long, app: String, hashkey: String, hkColumn: String,
                        businessKeys: Seq[String], bkColumns: Seq[String]): Unit = {
    val recs = HubLoader.records(
      Seq(EntitySource(batch, Some(hkColumn), bkColumns)),
      hashkey, businessKeys, table.readIfExists(targetName), disableHwm = true)
    table.appendOnce(targetName, recs, app, batchId): Unit
  }

  /** The per-batch v0-satellite body of [[satV0Sink]] and [[vaultSink]] */
  private def appendSatV0(table: TxLogTable, targetName: String, batch: DataFrame,
                          batchId: Long, app: String, hashkey: String,
                          hashdiff: String, payload: Seq[String]): Unit = {
    val recs = SatV0Loader.records(batch, Seq(hashkey), Some(hashdiff),
      payload, table.readIfExists(targetName), disableHwm = true)
    table.appendOnce(targetName, recs, app, batchId): Unit
  }

  /** The one sink shape: `body` runs per micro-batch of `staged` under
    * `checkpoint`; exactly-once comes from the `appendOnce` markers
    * `body` commits. */
  private def exactlyOnce(staged: DataFrame, checkpoint: String, trigger: Trigger)
                         (body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    staged.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)

  /** Streaming-native satellite change detection: the per-key "latest
    * hashdiff" lives in the STATE STORE (flatMapGroupsWithState) instead of
    * being re-read from the target on every micro-batch. At scale this turns
    * the satellite's NOT-EXISTS (an O(target) scan per delta) into an O(keys
    * in batch) state lookup — the same contract as `sat_v0.sql:131-142`,
    * continuously.
    *
    * Within a micro-batch, rows of one key are sorted by ldts and LAG-style
    * change-deduped (W3); the state carries the last emitted hashdiff across
    * batches. Memory: O(rows of one key in one micro-batch) per group.
    */
  def satV0ChangesStateful(staged: DataFrame, hashkey: String, hashdiff: String,
                           ldts: String = "ldts"): DataFrame = {
    val enc = Encoders.row(staged.schema)
    staged
      .groupByKey((r: Row) => r.getAs[String](hashkey))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[String]) => {
          // sort at FULL timestamp precision: getTime alone truncates to
          // milliseconds and ldts carries microseconds (end-dating math is
          // microsecond-granular), so same-millisecond changes would order
          // nondeterministically
          // sort key as (seconds, nanos) TUPLE: a single nano-scaled Long
          // overflows outside ~1677-2262, wrapping the year-0001/8888
          // sentinels to arbitrary positions; floorDiv keeps pre-epoch
          // (negative getTime) seconds ordered correctly
          val sorted = rows.toSeq.sortBy { r =>
            val t = r.getAs[java.sql.Timestamp](ldts)
            (Math.floorDiv(t.getTime, 1000L), t.getNanos)
          }
          var last = state.getOption
          val kept = sorted.filter { r =>
            val hd = r.getAs[String](hashdiff)
            val changed = !last.contains(hd)
            if (changed) last = Some(hd)
            changed
          }
          last.foreach(state.update)
          kept.iterator
        })(Encoders.STRING, enc)
  }

  /** Stateful satellite sink, exactly-once: change rows from
    * [[satV0ChangesStateful]] land through
    * [[graft.runtime.TxLogTable.appendOnce]]. The state store carries the
    * per-key latest hashdiff; the txn marker carries idempotence — a
    * checkpoint loss replays with FRESH state (every batch-0 row looks
    * new again) and only the (appId, batchId) markers stop the
    * duplication, the same two-layer contract as [[vaultSink]]. */
  def satV0StatefulTxSink(
      staged: DataFrame,
      table: graft.runtime.TxLogTable,
      targetName: String,
      hashkey: String,
      hashdiff: String,
      checkpoint: String,
      appId: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    txLogSink(satV0ChangesStateful(staged, hashkey, hashdiff), table, targetName,
      checkpoint, Some(appId.getOrElse(s"sat-stateful:$checkpoint")), trigger)

  /** One effectivity status row (activation or deactivation) — the
    * streaming shape of the eff-sat record (hk, ldts, rsrc, is_active). */
  final case class EffStatus(hk: String, ldts: java.sql.Timestamp,
                             rsrc: String, is_active: Boolean)

  /** Streaming effectivity tracking (the eff-sat, continuously): a key
    * emits an activation row on first appearance or reactivation, and a
    * SYSTEM deactivation row when NO event arrives for `inactivity` past
    * the event-time watermark. Batch eff-sat detects disappearance by
    * diffing the FULL source against current status every load
    * (`eff_sat_v0.sql:208-264`) — in streaming, absence is an event-time
    * TIMEOUT on the key's state, an O(keys-with-state) check the state
    * store does for free. `staged` must carry a watermark on `ldts`.
    */
  def effSatStateful(staged: DataFrame, hashkey: String,
                     inactivity: String = "1 hour",
                     ldts: String = "ldts", rsrc: String = "rsrc"): DataFrame = {
    val inactivityMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(inactivity))
    require(inactivityMs.months == 0,
      s"effSatStateful: month/year-denominated inactivity ('$inactivity') has no " +
        "fixed millisecond length — use day/hour/minute units")
    val stepMs = inactivityMs.days.toLong * 86400000L + inactivityMs.microseconds / 1000L
    require(stepMs > 0, s"effSatStateful: inactivity '$inactivity' must be positive")
    staged
      .groupByKey((r: Row) => r.getAs[String](hashkey))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: String, rows: Iterator[Row], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) {
            // no event for `inactivity` past the watermark → deactivate.
            // REMOVE the state rather than storing false: absent state
            // already means inactive (reappearance re-activates), and kept
            // entries would grow the state store unboundedly on churny keys
            state.remove()
            Iterator.single(EffStatus(key,
              new java.sql.Timestamp(state.getCurrentWatermarkMs()), "SYSTEM",
              is_active = false))
          } else {
            val events = rows.toSeq
            val first = events.minBy(_.getAs[java.sql.Timestamp](ldts).getTime)
            val maxTs = events.map(_.getAs[java.sql.Timestamp](ldts).getTime).max
            val wasActive = state.getOption.contains(true)
            state.update(true)
            state.setTimeoutTimestamp(maxTs + stepMs)
            if (wasActive) Iterator.empty
            else Iterator.single(EffStatus(key,
              first.getAs[java.sql.Timestamp](ldts),
              first.getAs[String](rsrc), is_active = true))
          }
        })(Encoders.scalaBoolean, Encoders.product[EffStatus])
      .toDF()
  }

  /** Streaming exact deduplication — the continuous-ingest shape of the
    * batch `dedup_exact` operator: one row survives per content
    * fingerprint, duplicates arriving within the watermark horizon are
    * dropped, and the fingerprint state is EVICTED once the watermark
    * passes (`dropDuplicatesWithinWatermark`), so state stays bounded by
    * the horizon instead of growing with the corpus. Exact-once dedup over
    * an unbounded stream needs unbounded state by definition — the horizon
    * is the production trade-off (re-ingested far-apart duplicates fall to
    * the batch dedup pass downstream). */
  def dedupExactStream(staged: DataFrame, textCol: String, tsCol: String,
                       horizon: String = "1 hour"): DataFrame =
    staged
      .withColumn("content_hash", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** One emitted near-duplicate candidate pair — or, with `tombstone` set,
    * a bucket-level RETRACTION: every pair previously emitted for `bucket`
    * is void (the bucket crossed the size cap after they went out). */
  final case class CandPair(doc_id: Long, doc_id_2: Long, bucket: String,
                            tombstone: Boolean = false)

  /** Per-bucket LSH state: stored members, and whether the bucket has gone
    * degenerate (crossed the cap — members cleared, nothing more emitted). */
  final case class BucketState(members: Seq[Long], overflowed: Boolean)

  /** Streaming near-duplicate CANDIDATE generation — the continuous shape
    * of the batch MinHash+LSH chain (same signatures, same band buckets):
    * each document's per-row signature maps to 2 band buckets, and bucket
    * membership lives in the STATE STORE (flatMapGroupsWithState keyed by
    * bucket). A new arrival emits one pair per stored member — the batch
    * bucket self-join, incrementally.
    *
    * Hot buckets are capped at BATCH strength: while a bucket holds ≤
    * `maxBucketSize` members its pairs flow; the arrival that would exceed
    * the cap emits ONE `tombstone` row for the bucket and clears its state
    * — the append stream's encoding of the batch generator's retroactive
    * drop (an over-cap bucket contributes NOTHING). Apply
    * [[applyCandidateTombstones]] to the materialized pair table to get
    * exactly the batch operator's candidate set; further arrivals in a
    * tombstoned bucket are suppressed for free.
    *
    * State is bounded by the event-time horizon when `tsCol` is set (the
    * input must carry a watermark on it): a bucket idle for `inactivity`
    * past the watermark is EVICTED, like `dedupExactStream` — far-apart
    * re-occurrences then re-pair only among themselves. EXCEPT tombstoned
    * buckets: the tombstone's retraction is keyed by bucket alone, so an
    * overflowed bucket keeps a permanent O(1) marker instead of evicting
    * (post-eviction re-pairs would be wrongly retracted, and re-overflow
    * would duplicate the tombstone). Without `tsCol` state grows with
    * distinct buckets (acceptable for bounded backfills, not for unbounded
    * streams).
    *
    * Checkpoint compatibility: the state schema is `BucketState` (product-
    * encoded). Changing it — as the move from the earlier kryo `Seq[Long]`
    * did — is a breaking change for EXISTING checkpoints: restart such a
    * stream with a fresh checkpoint (and re-backfill or accept the lost
    * bucket membership); there is no in-place state migration. */
  def lshCandidatesStream(staged: DataFrame, docId: String = "doc_id",
                          textCol: String = "text",
                          maxBucketSize: Int = 100,
                          tsCol: Option[String] = None,
                          inactivity: String = "1 hour"): DataFrame = {
    import graft.ops.MinHash
    val stepMs = tsCol.map { _ =>
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(inactivity))
      require(iv.months == 0,
        s"lshCandidatesStream: month/year-denominated inactivity ('$inactivity') " +
          "has no fixed millisecond length — use day/hour/minute units")
      val ms = iv.days.toLong * 86400000L + iv.microseconds / 1000L
      require(ms > 0, s"lshCandidatesStream: inactivity '$inactivity' must be positive")
      ms
    }
    val bands = staged
      .withColumn("words", split(col(textCol), "\\s+"))
      .withColumn("shs", expr(MinHash.shinglesExpr))
      .filter(size(col("shs")) > 0)
      .withColumn("sig", MinHash.perRowSig)
      .select((Seq(col(docId).cast("long").as("doc_id"),
        explode(array(lit(0), lit(1))).as("band"), col("sig")) ++
        tsCol.map(col)): _*)
      .withColumn("bucket", MinHash.bucketExpr)
      .select((Seq(col("doc_id"), col("bucket")) ++ tsCol.map(col)): _*)
    val timeoutConf =
      if (tsCol.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    bands
      .groupByKey((r: Row) => r.getAs[String]("bucket"))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (bucket: String, rows: Iterator[Row], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            if (state.getOption.exists(_.overflowed)) {
              // a tombstoned bucket stays dead PERMANENTLY: its tombstone
              // already retracted every emitted pair, and the retraction
              // is keyed by bucket alone — evicting the flag would let
              // post-eviction arrivals emit pairs the old tombstone then
              // wrongly kills (and re-overflow would duplicate the
              // tombstone). Keep the O(1) overflow marker, set no further
              // timeout; state stays bounded by #overflowed buckets.
              state.update(BucketState(Seq.empty, overflowed = true))
            } else state.remove()
            Iterator.empty
          }
          else {
            val st = state.getOption.getOrElse(BucketState(Seq.empty, overflowed = false))
            var members = st.members
            var overflowed = st.overflowed
            val out = Seq.newBuilder[CandPair]
            val events = rows.toSeq
            events.map(_.getAs[Long]("doc_id")).distinct.sorted.foreach { d =>
              if (!overflowed && !members.contains(d)) {
                if (members.size >= maxBucketSize) {
                  // batch parity (count ≤ cap keeps, above drops ENTIRELY):
                  // void this batch's pairs and retract the earlier ones
                  // with one bucket tombstone; drop the member list
                  out.clear()
                  out += CandPair(-1L, -1L, bucket, tombstone = true)
                  members = Seq.empty
                  overflowed = true
                } else {
                  members.foreach { m =>
                    out += CandPair(math.min(m, d), math.max(m, d), bucket)
                  }
                  members = members :+ d
                }
              }
            }
            state.update(BucketState(members, overflowed))
            (tsCol, stepMs) match {
              case (Some(tc), Some(ms)) =>
                val maxTs = events.map(_.getAs[java.sql.Timestamp](tc).getTime).max
                state.setTimeoutTimestamp(maxTs + ms)
              case _ =>
            }
            out.result().iterator
          }
        })(Encoders.product[BucketState], Encoders.product[CandPair])
      .toDF()
  }

  /** Resolve a MATERIALIZED stream-candidate table to the batch operator's
    * candidate set: drop tombstone markers and every pair of a tombstoned
    * bucket (pairs emitted before their bucket crossed the cap). Run over
    * the sink table, or inside a `foreachBatch` compaction. */
  def applyCandidateTombstones(pairs: DataFrame): DataFrame = {
    // self-join over one plan: the rename mints a fresh attribute for the
    // right side, so the join condition references distinct columns
    val live = pairs.filter(!col("tombstone"))
    val tombstoned = pairs.filter(col("tombstone"))
      .select(col("bucket").as("tombstoned_bucket")).distinct()
    live.join(tombstoned,
      col("bucket") === col("tombstoned_bucket"), "left_anti")
  }

  /** One COMPLETED session (closed by a gap or by event-time timeout) —
    * the streaming shape of the batch event_sessions row. */
  final case class SessionRow(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long,
                              session_value: Double)

  /** Open-session state: bounds, event count, value sum. */
  final case class SessionState(start: java.sql.Timestamp,
                                last: java.sql.Timestamp,
                                n: Long, value: Double)

  /** Streaming gap sessionization — the continuous form of the batch
    * event_sessions query (two windows + a groupBy there; one state-store
    * lookup per key here). A session closes when a user is idle for `gap`:
    * intra-batch gaps close sessions immediately, cross-batch idleness is
    * an EVENT-TIME TIMEOUT on the key's state (fires once the watermark
    * passes last_event + gap — absence detection is O(keys-with-state),
    * exactly like [[effSatStateful]]'s deactivation). Emits only COMPLETED
    * sessions (append mode); the open tail of each user's activity stays in
    * state. Late events inside the watermark that predate the open
    * session's bounds extend it backwards rather than reordering history.
    * `events` must carry a watermark on `tsCol`. State: one
    * (start, last, n, sum) tuple per active user — O(active users), not
    * O(events). */
  def sessionizeStream(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts", valueCol: String = "value",
                       gap: String = "30 minutes"): DataFrame = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0,
      s"sessionizeStream: month/year-denominated gap ('$gap') has no fixed " +
        "millisecond length — use day/hour/minute units")
    val gapMs = iv.days.toLong * 86400000L + iv.microseconds / 1000L
    require(gapMs > 0, s"sessionizeStream: gap '$gap' must be positive")
    val gapUs = gapMs * 1000L
    // ALL gap/order comparisons at full microsecond precision: getTime
    // truncates to ms, so a gap in (gap, gap+1ms) would not break here
    // while the batch event_sessions query (unix_micros) breaks — a
    // same-policy divergence exactly at the threshold. (And same-ms
    // events must pick session_end by their µs, not arrival.)
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .groupByKey((r: Row) => r.getAs[Long](userCol))(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[Row], state: GroupState[SessionState]) => {
          def done(s: SessionState) = SessionRow(user, s.start, s.last, s.n, s.value)
          if (state.hasTimedOut) {
            val closed = state.getOption.map(done).toSeq
            state.remove()
            closed.iterator
          } else {
            // full-precision sort (see satV0ChangesStateful): same-millisecond
            // events must order identically across runs
            val evs = rows.toSeq.sortBy(r => us(r.getAs[java.sql.Timestamp](tsCol)))
            val out = Seq.newBuilder[SessionRow]
            var cur = state.getOption
            evs.foreach { r =>
              val t = r.getAs[java.sql.Timestamp](tsCol)
              val v = r.getAs[Double](valueCol)
              cur = cur match {
                case Some(s) if us(t) - us(s.last) > gapUs =>
                  out += done(s)
                  Some(SessionState(t, t, 1L, v))
                case Some(s) =>
                  Some(SessionState(
                    if (us(t) < us(s.start)) t else s.start,
                    if (us(t) > us(s.last)) t else s.last,
                    s.n + 1, s.value + v))
                case None => Some(SessionState(t, t, 1L, v))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last.getTime + gapMs)
            }
            out.result().iterator
          }
        })(Encoders.product[SessionState], Encoders.product[SessionRow])
      .toDF()
  }

  /** Decayed-engagement state: last event time (µs), decayed sum, count. */
  final case class DecayState(lastUs: Long, score: Double, n: Long)
  final case class DecayRow(user_id: Long, last_event_us: Long,
                            decayed_value: Double, n_events: Long)

  /** Streaming time-decayed engagement — the continuous form of the batch
    * time_decay_engagement query and the classic feature-store pattern:
    * one (last_ts, score) pair per user, decayed lazily ON EVENT (never a
    * timer per key), so idle users cost nothing until they return. For an
    * event at t with state at last:
    *   t ≥ last:  score ← score·exp(−λ(t−last)) + v   (decay forward)
    *   t <  last: score ← score + v·exp(−λ(last−t))   (late event inside
    *     the watermark discounts ITSELF to the state's clock instead of
    *     rewinding it)
    * Both branches keep the invariant score = Σ vᵢ·exp(−λ(last−tᵢ)) — the
    * exact batch formula anchored at the user's latest event, which is
    * what StreamingSpec asserts. Emits the running feature per user per
    * micro-batch (Update mode). State: O(active users). */
  def decayedEngagementStream(events: DataFrame, halfLifeDays: Double = 7.0,
                              userCol: String = "user_id", tsCol: String = "ts",
                              valueCol: String = "value"): DataFrame = {
    require(halfLifeDays > 0, s"half-life must be positive, got $halfLifeDays")
    val lambda = math.log(2) / (halfLifeDays * 86400e6) // per microsecond
    events
      .groupByKey((r: Row) => r.getAs[Long](userCol))(Encoders.scalaLong)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[Row], state: GroupState[DecayState]) => {
          // full-precision sort (see satV0ChangesStateful): same-millisecond
          // events must fold identically across runs
          val evs = rows.toSeq.sortBy { r =>
            val t = r.getAs[java.sql.Timestamp](tsCol)
            (Math.floorDiv(t.getTime, 1000L), t.getNanos)
          }
          var st = state.getOption.getOrElse(DecayState(0L, 0.0, 0L))
          evs.foreach { r =>
            val t = r.getAs[java.sql.Timestamp](tsCol)
            val us = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
            val v = r.getAs[Double](valueCol)
            st =
              if (st.n == 0L) DecayState(us, v, 1L)
              else if (us >= st.lastUs)
                DecayState(us,
                  st.score * math.exp(-lambda * (us - st.lastUs)) + v, st.n + 1)
              else
                DecayState(st.lastUs,
                  st.score + v * math.exp(-lambda * (st.lastUs - us)), st.n + 1)
          }
          state.update(st)
          DecayRow(user, st.lastUs, st.score, st.n)
        })(Encoders.product[DecayState], Encoders.product[DecayRow])
      .toDF()
  }

  /** Streaming CHANGE-DATA-FEED materialization: each micro-batch is
    * upserted into the maintained snapshot AND its I/U delta (computed by
    * [[graft.runtime.Cdc.diff]] against the pre-merge snapshot) is
    * appended to a `<name>_changes` feed — the continuous form of the
    * batch txlog_cdc query, giving downstream consumers an incremental
    * changelog without rescanning the table. The first batch creates the
    * snapshot; every later one is one [[TxLogTable.merge]] on `keys`, which
    * rewrites only the files holding a batch key. Batch rows must carry
    * the full row image (key + all value columns) and unique keys. */
  def cdcSink(staged: DataFrame, table: TxLogTable,
              name: String, keys: Seq[String],
              checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    staged.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val current = table.readIfExists(name)
        val changes = graft.runtime.Cdc.diff(current.getOrElse(batch.limit(0)), batch, keys)
          // D here only means "absent from this batch" — a batch is a
          // partial upsert, not a full snapshot; drop the false deletes
          .filter(col("op") =!= "D")
        table.append(s"${name}_changes", changes)
        if (current.isEmpty) table.overwrite(name, batch)
        else table.merge(name, batch, keys)
      }
      .start()

  /** Spike-scorer state: the trailing window of finalized hourly counts. */
  final case class SpikeState(hours: Seq[Long], ns: Seq[Long])
  final case class SpikeRow(event_type: String, hour_ms: Long, n: Long,
                            baseline_mean: Double, baseline_std: Double,
                            z: Double, spike: Boolean)

  /** Streaming spike detection — the continuous form of the batch
    * event_spike_detection query, same policy constants (trailing ≤24
    * finalized hours, ≥6 required, z = (n−mean)/stddev_pop rounded to 4,
    * spike at z ≥ 3). Input is a stream of FINALIZED hourly counts
    * (event_type, hour, n) — in production the upstream is
    * [[windowedEventCounts]] emitting append-mode finalized windows into
    * a sink this query reads, the standard two-query chain for
    * stateful-after-aggregation. State per event type is one bounded
    * (hour, count) deque — O(types × 24), independent of volume. Late or
    * replayed hours at-or-before the newest state hour are ignored (the
    * upstream append-mode window is already final exactly once). */
  def spikeScoreStream(hourly: DataFrame, typeCol: String = "event_type",
                       hourCol: String = "hour", nCol: String = "n",
                       trailing: Int = 24, minBaseline: Int = 6,
                       zThreshold: Double = 3.0): DataFrame = {
    def round4(x: Double) = math.rint(x * 1e4) / 1e4
    hourly
      .groupByKey((r: Row) => r.getAs[String](typeCol))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (typ: String, rows: Iterator[Row], state: GroupState[SpikeState]) => {
          val evs = rows.toSeq
            .map(r => (r.getAs[java.sql.Timestamp](hourCol).getTime,
              r.getAs[Long](nCol)))
            .sortBy(_._1)
          var st = state.getOption.getOrElse(SpikeState(Nil, Nil))
          val out = Seq.newBuilder[SpikeRow]
          evs.foreach { case (hourMs, n) =>
            if (st.hours.isEmpty || hourMs > st.hours.last) {
              if (st.hours.size >= minBaseline) {
                val xs = st.ns.map(_.toDouble)
                val mean = xs.sum / xs.size
                val std = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.size)
                val z = if (std == 0.0) Double.NaN else round4((n - mean) / std)
                if (!z.isNaN)
                  out += SpikeRow(typ, hourMs, n, round4(mean), round4(std), z,
                    z >= zThreshold)
              }
              st = SpikeState((st.hours :+ hourMs).takeRight(trailing),
                (st.ns :+ n).takeRight(trailing))
            }
          }
          state.update(st)
          out.result().iterator
        })(Encoders.product[SpikeState], Encoders.product[SpikeRow])
      .toDF()
  }

  /** Stream-stream interval join: click→purchase candidate pairs, the
    * streaming form of the batch `click_attribution` pair predicate —
    * an EQUI-join on the user with the attribution window as a range
    * condition. Both sides carry watermarks and the range condition
    * bounds each side's state retention (Spark derives it from the
    * interval): a click is held only until the watermark passes
    * `click_ts + within`, so state is O(events inside the window), not
    * O(stream). Emits ALL in-window pairs (append mode); the
    * last-touch argmax is the batch groupBy downstream — an inner
    * interval join is the only shape Structured Streaming can run
    * incrementally without waiting out the window. */
  def attributionJoinStream(clicks: DataFrame, purchases: DataFrame,
                            within: String = "1 hour",
                            lateness: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", lateness)
    p.join(c,
        col("user_id") === col("p_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $within"))
      .select(col("purchase_id"), col("p_user_id").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** LEFT OUTER variant of [[attributionJoinStream]]: every purchase is
    * emitted exactly once — matched purchases as soon as their in-window
    * click pairs, UNMATCHED purchases with NULL click fields once the
    * watermark has passed their join window (so no click can still
    * arrive). The "direct purchase" accounting the inner join drops;
    * state remains bounded by the interval + lateness exactly like the
    * inner join, and the delayed null emission is the engine's proof
    * obligation, pinned against the batch left join in StreamingSpec. */
  def attributionLeftOuterStream(clicks: DataFrame, purchases: DataFrame,
                                 within: String = "1 hour",
                                 lateness: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", lateness)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", lateness)
    p.join(c,
        col("c_user_id") === col("p_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $within"),
        "left_outer")
      .select(col("purchase_id"), col("p_user_id").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Watermarked tumbling-window aggregation over an event stream — the
    * streaming form of the events_windowed batch query. Append mode emits a
    * window only once the watermark passes its end: late events inside the
    * allowed lateness still land in their window, older ones are dropped. */
  def windowedEventCounts(events: DataFrame, tsCol: String,
                          windowLength: String = "1 hour",
                          lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Streaming windowed distinct-id monitor emitting MERGEABLE sketches:
    * per finalized (window, event_type) group, the HLL sketch blob plus
    * its estimate — the streaming PRODUCER of the sketch table that the
    * batch `hll_sketch_rollup` re-aggregates (any rollup window is then a
    * `hll_union_agg` over blobs, no raw-id rescan). Distinct-count state
    * per open window is the sketch's fixed 2^lgK registers, vs exact
    * countDistinct whose streaming state grows with every id seen — at
    * production event rates the sketch is the only bounded-state option.
    * Append mode emits each window once the watermark passes its end. */
  def windowedUserSketches(events: DataFrame, tsCol: String,
                           idCol: String = "user_id",
                           windowLength: String = "1 hour",
                           lateness: String = "1 hour",
                           lgK: Int = 12): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength).as("w"), col("event_type"))
      .agg(expr(s"hll_sketch_agg($idCol, $lgK)").as("id_sketch"),
        expr(s"hll_sketch_estimate(hll_sketch_agg($idCol, $lgK))").as("n_ids_approx"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("id_sketch"), col("n_ids_approx"))

  /** Streaming windowed VALUE-DISTRIBUTION monitor emitting mergeable KLL
    * quantile sketches: per finalized (window, event_type) group, the
    * sketch blob over `valCol` plus its p50/p90 — the streaming producer
    * of the quantile-sketch table the batch `kll_quantile_rollup`
    * re-aggregates (any rollup window is then a blob merge, no raw-value
    * rescan or global sort). State per open window is the sketch's ~k
    * retained items, vs exact percentiles whose state is the window's full
    * value multiset. `k` defaults high enough that no sketch compacts at
    * the scales this engine verifies, keeping estimates deterministic and
    * stream ≡ batch (KLL compaction is randomized — SketchSpec pins the
    * below-capacity contract). Append mode emits each window once the
    * watermark passes its end. */
  def windowedQuantileSketches(events: DataFrame, tsCol: String,
                               valCol: String,
                               windowLength: String = "1 hour",
                               lateness: String = "1 hour",
                               k: Int = 2048): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLength).as("w"), col("event_type"))
      .agg(expr(s"kll_sketch_agg_bigint($valCol, $k)").as("val_sketch"),
        expr(s"kll_sketch_get_quantile_bigint(kll_sketch_agg_bigint($valCol, $k), 0.5)")
          .as("p50_approx"),
        expr(s"kll_sketch_get_quantile_bigint(kll_sketch_agg_bigint($valCol, $k), 0.9)")
          .as("p90_approx"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("val_sketch"), col("p50_approx"), col("p90_approx"))

  /** Streaming distribution-drift monitor: per finalized window, the KL
    * divergence of the window's unigram distribution against a BROADCAST
    * baseline (the corpus distribution the batch `unigram_drift` computes)
    * — the in-flight "did this crawl/source shift" alarm. Two CHAINED
    * watermarked window aggregations (Spark's multiple-stateful-operator
    * support): per-(window, word) counts, then per-window KL folded from
    * the sufficient statistics Σtf, Σtf·ln(tf), Σtf·ln(q) — so state is
    * the window's vocabulary, never its raw tokens, and no collect ever
    * happens. Baseline words are looked up in a map literal; words absent
    * from the baseline get `floorProb` (keeps KL finite, like the batch
    * operator's corpus⊇source construction). */
  def windowedDriftStream(docs: DataFrame, textCol: String, tsCol: String,
                          baseline: Map[String, Double],
                          windowLength: String = "1 hour",
                          lateness: String = "1 hour",
                          floorProb: Double = 1e-9): DataFrame = {
    require(baseline.nonEmpty, "windowedDriftStream needs a baseline distribution")
    val words = docs
      .withWatermark(tsCol, lateness)
      .select(col(tsCol), explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val tf = words
      .groupBy(window(col(tsCol), windowLength).as("win"), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val lnQ = log(coalesce(element_at(typedLit(baseline), col("w")), lit(floorProb)))
    tf.select(col("win"), col("tf"), (col("tf") * log(col("tf"))).as("tflntf"),
        (col("tf") * lnQ).as("tflnq"))
      .groupBy(window(window_time(col("win")), windowLength).as("win2"))
      .agg(sum(col("tf")).as("n"), sum(col("tflntf")).as("s2"),
        sum(col("tflnq")).as("s3"))
      .select(col("win2.start").as("window_start"),
        col("n").cast("long").as("n_tokens"),
        // Σ p·ln(p/q) = (Σtf·ln tf − n·ln n − Σtf·ln q) / n
        ((col("s2") - col("n") * log(col("n")) - col("s3")) / col("n"))
          .as("kl_nats"))
  }

  /** EXACTLY-ONCE streaming append into a transactional table:
    * `foreachBatch` alone is at-least-once (a batch can re-run after a
    * sink write succeeded but the checkpoint commit didn't), so each
    * micro-batch append goes through [[graft.runtime.TxLogTable.appendOnce]]
    * with `(appId, batchId)` — the replayed batch is recognized in the
    * table's OWN log and skipped, closing the duplication window the
    * checkpoint can't. `appId` must be stable per (query, table) across
    * restarts (default: the checkpoint path). */
  def txLogSink(staged: DataFrame, table: graft.runtime.TxLogTable,
                name: String, checkpoint: String, appId: Option[String] = None,
                trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    val app = appId.getOrElse(s"txlog-sink:$checkpoint")
    exactlyOnce(staged, checkpoint, trigger) { (batch, batchId) =>
      table.appendOnce(name, batch, app, batchId): Unit
    }
  }

  /** One streaming sink loading a hub AND a v0 satellite from the same
    * staged stream — the reference's scheduled incremental run
    * (`databricks/hub.sql:44,165-179` + `sat_v0.sql:131-142`) replayed
    * per micro-batch. Each batch runs the SAME incremental loaders as the
    * batch path (dedup → anti-join against the target-so-far) and lands
    * through [[graft.runtime.TxLogTable.appendOnce]], so a replayed batch
    * (task retry, sink restart, checkpoint loss) is recognized in each
    * table's own transaction log and skipped — exactly-once per table
    * even when the two appends of one batch straddle a crash. */
  def vaultSink(staged: DataFrame, table: graft.runtime.TxLogTable,
      hubName: String, satName: String,
      hashkey: String, businessKeys: Seq[String], bkColumns: Seq[String],
      hashdiff: String, payload: Seq[String],
      checkpoint: String, appId: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] = {
    val app = appId.getOrElse(s"vault-sink:$checkpoint")
    exactlyOnce(staged, checkpoint, trigger) { (batch, batchId) =>
      appendHub(table, hubName, batch, batchId, app, hashkey, hashkey, businessKeys, bkColumns)
      appendSatV0(table, satName, batch, batchId, app, hashkey, hashdiff, payload)
    }
  }

  final case class ReservoirRow(group: String, id: Long, weight: Long, key: Double)

  /** Streaming weighted sampling without replacement: per group, the state
    * store holds the k rows with the largest Efraimidis–Spirakis keys
    * ([[graft.ops.Sampling.aresKey]] — the SAME key function as the batch
    * `weighted_sample` query) — at any moment the state IS a
    * weight-proportional without-replacement sample of everything the
    * group has seen. A-ES keys make the reservoir mergeable: top-k of
    * (state ∪ batch) = top-k of the union, so arrival order never matters,
    * and deterministic keys make replays idempotent (a re-seen id
    * deduplicates to the same key). Emits a group's FULL current reservoir
    * whenever it changes (update semantics); state is O(k) per group.
    */
  def weightedReservoirStream(staged: DataFrame, k: Int,
      groupCol: String = "source", idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    require(k > 0, "weightedReservoirStream: k must be positive")
    val keyed = staged.select(
      col(groupCol).cast("string").as("group"),
      col(idCol).cast("long").as("id"),
      col(weightCol).cast("long").as("weight"),
      graft.ops.Sampling.aresKey(col(idCol), col(weightCol)).as("key"))
      // ln(u)/w is NULL for weight ≤ 0 (non-ANSI division); getAs[Double]
      // would unbox that null to 0.0 — the MAXIMUM key, permanently
      // occupying a slot. Drop such rows, matching the batch query where
      // desc ordering (nulls last) keeps them out of the top-k.
      .filter(col("key").isNotNull)
    keyed
      .groupByKey((r: Row) => r.getAs[String]("group"))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (g: String, rows: Iterator[Row], state: GroupState[List[(Long, Long, Double)]]) => {
          val cur = state.getOption.getOrElse(Nil)
          val merged = (cur ++ rows.map(r => (r.getAs[Long]("id"),
              r.getAs[Long]("weight"), r.getAs[Double]("key"))))
            .distinctBy(_._1)
            .sortBy(t => (-t._3, t._1))
            .take(k)
          if (merged == cur) Iterator.empty
          else {
            state.update(merged)
            merged.iterator.map { case (id, w, key) => ReservoirRow(g, id, w, key) }
          }
        })(Encoders.kryo[List[(Long, Long, Double)]], Encoders.product[ReservoirRow])
      .toDF()
  }

  /** In-flight quality gate + router: scores each document with the SAME
    * stateless projection as the batch `gopher_rules` query
    * ([[graft.quality.TextRules.withGopherColumns]]) and routes every row —
    * with its score columns — to the keep or reject table in ONE
    * foreachBatch pass. The scored batch is persisted so the two filtered
    * appends don't recompute (or worse, re-read) the source; no state, no
    * shuffle — a pure projection rides the source partitioning at any
    * scale. Both appends go through [[TxLogTable.appendOnce]] with
    * per-table txn markers keyed by the checkpoint path, so a crash
    * between the keep append and the checkpoint commit (or between the
    * two appends) replays to exactly one committed copy per table.
    * Rejects are KEPT, not dropped: a 100 TB ingest audits its filter
    * decisions. */
  def qualityRouterSink(
      staged: DataFrame,
      textCol: String,
      store: TxLogTable,
      keepTable: String,
      rejectTable: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    staged.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val scored = graft.quality.TextRules.withGopherColumns(batch, textCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          store.appendOnce(keepTable, scored.filter(col("keep")).drop("keep"),
            s"router=$checkpoint/keep", batchId)
          store.appendOnce(rejectTable, scored.filter(!col("keep")).drop("keep"),
            s"router=$checkpoint/reject", batchId)
          ()
        } finally { scored.unpersist(); () }
      }

  /** Online application of the batch-trained Naive Bayes labeler
    * ([[graft.quality.NaiveBayes]]): each micro-batch is scored against
    * the STATIC model frames — the label-level stats ride a broadcast,
    * the (label, word) count table is an ordinary stream-side equi-join —
    * and lands with its `pred_lang`/`log_score` through
    * [[TxLogTable.appendOnce]] (exactly-once under foreachBatch replay).
    * Train offline, score in-flight, one model definition: the streamed
    * predictions are byte-equal to [[graft.quality.NaiveBayes.score]] on
    * the same rows, which `StreamingSpec` asserts. Docs whose text yields
    * zero tokens keep a NULL prediction (left join) rather than being
    * silently dropped. */
  def nbScoreSink(
      staged: DataFrame,
      model: graft.quality.NaiveBayes.Model,
      store: TxLogTable,
      table: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    staged.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        store.appendOnce(table,
          batch.join(
            graft.quality.NaiveBayes.score(batch, model, idCol, textCol),
            Seq(idCol), "left"),
          s"nb=$checkpoint", batchId)
        ()
      }

  /** output row of [[runningTotalsStream]] */
  final case class UserTotal(user_id: Long, n_events: Long, cents: Long)

  /** Arbitrary stateful streaming via the transformWithState API (the
    * Spark 4 successor to flatMapGroupsWithState): per-user running
    * event/cents totals in a typed ValueState, one updated row emitted
    * per key per micro-batch. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass`). State is O(keys);
    * a TTL would bound it for unbounded key spaces. */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Row, UserTotal] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var tot: ValueState[(Long, Long)] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      tot = getHandle.getValueState[(Long, Long)]("tot",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Row],
        timers: TimerValues): Iterator[UserTotal] = {
      var (n, c) = if (tot.exists()) tot.get() else (0L, 0L)
      rows.foreach { r => n += 1; c += r.getAs[Long]("cents") }
      tot.update((n, c))
      Iterator.single(UserTotal(key, n, c))
    }
  }

  /** a session closed by an event-time TIMER */
  final case class TimerSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Idle-gap sessionization through transformWithState EVENT-TIME TIMERS
    * — the capability that distinguishes the Spark-4 API from
    * flatMapGroupsWithState's single implicit timeout: each key keeps ONE
    * registered timer at (last event + gap), re-arms it on every event
    * (deleteTimer + registerTimer), and the session row is emitted from
    * `handleExpiredTimer` exactly when the WATERMARK crosses the timer —
    * not on the next event, so a user who never returns still closes.
    * In-batch gaps close inline. State per key: one 4-long tuple. */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Row, TimerSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    // (startMs, lastMs, nEvents, armedTimerMs)
    @transient private var sess: ValueState[(Long, Long, Long, Long)] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    private def row(key: Long, st: Long, last: Long, n: Long) =
      TimerSession(key, new java.sql.Timestamp(st), new java.sql.Timestamp(last), n)
    override def handleInputRows(key: Long, rows: Iterator[Row],
        timers: TimerValues): Iterator[TimerSession] = {
      val times = rows.map(_.getAs[java.sql.Timestamp]("ts").getTime)
        .toSeq.sorted
      var closed = List.empty[TimerSession]
      var cur: Option[(Long, Long, Long)] = None
      var armed = 0L
      if (sess.exists()) {
        val (st, last, n, t) = sess.get()
        cur = Some((st, last, n)); armed = t
      }
      times.foreach { t =>
        cur match {
          case Some((st, last, n)) if t <= last + gapMs =>
            cur = Some((st, math.max(last, t), n + 1))
          case Some((st, last, n)) =>
            closed ::= row(key, st, last, n)
            cur = Some((t, t, 1))
          case None => cur = Some((t, t, 1))
        }
      }
      cur.foreach { case (st, last, n) =>
        val tmr = last + gapMs
        if (armed != 0L && armed != tmr) getHandle.deleteTimer(armed)
        if (armed != tmr) getHandle.registerTimer(tmr)
        sess.update((st, last, n, tmr))
      }
      closed.reverseIterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[TimerSession] = {
      if (!sess.exists()) return Iterator.empty
      val (st, last, n, armed) = sess.get()
      // only the CURRENT timer closes the session (a stale timer that
      // raced deletion is ignored)
      if (expired.getExpiryTimeInMs() != armed) Iterator.empty
      else { sess.clear(); Iterator.single(row(key, st, last, n)) }
    }
  }

  /** `events` needs (user_id: long, ts: timestamp). Emits each closed
    * session exactly once, timer-driven. */
  def sessionTimerStream(events: DataFrame, gap: String = "10 minutes",
                         lateness: String = "0 seconds"): org.apache.spark.sql.Dataset[TimerSession] = {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    implicit val enc: org.apache.spark.sql.Encoder[TimerSession] =
      Encoders.product[TimerSession]
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    val ms = gapMs.days * 86400000L + gapMs.microseconds / 1000L
    events.withWatermark("ts", lateness)
      .groupByKey((r: Row) => r.getAs[Long]("user_id"))(Encoders.scalaLong)
      .transformWithState(new SessionTimerProcessor(ms),
        TimeMode.EventTime(), OM.Append())
  }

  /** `staged` needs columns (user_id: long, cents: long). */
  def runningTotalsStream(staged: DataFrame): org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    implicit val enc: org.apache.spark.sql.Encoder[UserTotal] =
      Encoders.product[UserTotal]
    staged.groupByKey((r: Row) => r.getAs[Long]("user_id"))(Encoders.scalaLong)
      .transformWithState(new RunningTotalProcessor, TimeMode.None(), OM.Update())
  }
}
