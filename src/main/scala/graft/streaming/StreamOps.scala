package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.Tables.dec
import graft.pipeline.VersionedTable

/** Typed records for the custom-state operator. */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
case class UserActivity(user_id: Long, n_events: Long, n_sessions: Long)
case class ActivityState(nEvents: Long, nSessions: Long, lastTsMs: Long)

/** Structured Streaming transforms generalizing the reference's
  * incremental `continueFrom` protocol
  * (/root/reference/Unity_to_BigQuery.py:63-66,155,178-180): watermark +
  * windowed state replaces the Postgres checkpoint table, and
  * commit-after-batch replaces the post-save insert.
  *
  * Each transform takes any events-shaped DataFrame — batch or
  * streaming — so the SAME code runs under `spark.read` (oracle-checked
  * via the batch-equivalent queries in [[graft.queries.Streaming]]) and
  * under `spark.readStream` (exercised with MemoryStream in
  * StreamingSpec, including late-data drop). That batch/stream parity
  * is the point: Catalyst plans the incremental execution, we only
  * declare the query.
  */
object StreamOps {

  /** Tumbling 1-hour windows per event type: count + exact decimal sum
    * (finished in double). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("event_type"), col("window.start").as("win_start"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes (each event lands in
    * exactly 2 windows — slide divides width, SURVEY.md §7.5). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Per-user session windows with a 30-minute gap. Verified boundary
    * semantics (StreamingSpec): sessions that TOUCH are merged — a gap
    * of exactly 30 min stays one session; a new session needs
    * diff > gap. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("sess_start"), max(col("ts")).as("last_ts"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("sess_start"), col("last_ts"), col("n"))

  /** Streaming variants with event-time watermark (state eviction /
    * late-data drop). Only valid on streaming DataFrames. */
  def tumblingAggStream(events: DataFrame, watermark: String): DataFrame =
    tumblingAgg(events.withWatermark("ts", watermark))

  def sessionAggStream(events: DataFrame, watermark: String): DataFrame =
    sessionAgg(events.withWatermark("ts", watermark))

  def slidingAggStream(events: DataFrame, watermark: String): DataFrame =
    slidingAgg(events.withWatermark("ts", watermark))

  /** Stateful dedup on event_id; bounded state via watermark. */
  def dedupStream(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** An empty frame with the batch's schema: the base a sink merges
    * into before its table's first publish. */
  private def emptyLike(batch: DataFrame): DataFrame =
    batch.sparkSession.createDataFrame(
      new java.util.ArrayList[Row](), batch.schema)

  /** The per-batch body shared by the versioned sinks: `merge` folds
    * the micro-batch into the current snapshot (None before the first
    * publish) and the result commits as the table's next version
    * through [[VersionedTable.publishRmw]]; `keepVersions` > 0 then
    * vacuums down to the newest N. SkipBurned because each sink table
    * has exactly one writer, this query's serial batches, so a held
    * claim can only be its own crash debris; two sinks on one table
    * would need ClaimPolicy.Linearized. */
  private[graft] def publishBatch(tableDir: String, keepVersions: Int,
      merge: (Option[DataFrame], DataFrame) => DataFrame)
      (batch: Dataset[Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    VersionedTable.publishRmw(spark, tableDir,
      policy = VersionedTable.ClaimPolicy.SkipBurned) { base =>
      merge(base, batch.toDF())
    }: Unit
    if (keepVersions > 0)
      VersionedTable.vacuum(spark, tableDir, keepVersions): Unit
  }

  private def versionedSink(stream: DataFrame, tableDir: String,
      keepVersions: Int)(merge: (Option[DataFrame], DataFrame) => DataFrame)
      : DataStreamWriter[Row] =
    stream.writeStream.outputMode(OutputMode.Append)
      .foreachBatch(publishBatch(tableDir, keepVersions, merge) _)

  /** [[upsertSink]]'s merge: the batch's rows replace same-key rows
    * of the snapshot, latest `versionCol` wins. */
  private[graft] def keepLatest(keys: Seq[String], versionCol: String,
      tiebreak: Seq[Column]): (Option[DataFrame], DataFrame) => DataFrame =
    (base, batch) => graft.operators.Upsert(
      base.getOrElse(emptyLike(batch)), batch, keys, versionCol, tiebreak)

  /** Streaming CDC apply: each micro-batch MERGEs into a keep-latest
    * [[VersionedTable]] through the batch [[graft.operators.Upsert]],
    * the foreachBatch loop a warehouse ingestion runs when the sink
    * has no native MERGE. Each applied batch is a new version behind
    * an atomic marker, so concurrent readers keep the snapshot they
    * resolved while the stream advances, and every applied batch
    * stays time-travelable until vacuumed. Idempotent at the table
    * level: a re-delivered batch (at-least-once ingest) re-merges to
    * value-equal state, so one redundant version is the only side
    * effect of replay.
    *
    * `keepVersions` bounds retention: one snapshot per micro-batch is
    * unbounded storage on a long-lived stream; > 0 vacuums down to
    * the newest N after each publish (N must cover the longest
    * concurrent reader). 0 keeps everything. Read the table with
    * [[VersionedTable.read]]. */
  def upsertSink(updates: DataFrame, tableDir: String, keys: Seq[String],
      versionCol: String, tiebreak: Seq[Column] = Nil,
      keepVersions: Int = 0): DataStreamWriter[Row] =
    versionedSink(updates, tableDir, keepVersions)(
      keepLatest(keys, versionCol, tiebreak))

  /** foreachBatch SCD2 (type-2) dimension MAINTENANCE: the streaming
    * form of q_scd2_apply — each micro-batch of (key, value, eff_from)
    * changes is keep-latest PRE-COLLAPSED per key (ScdApply's enforced
    * one-row-per-key precondition; latest eff_from wins, value as the
    * deterministic tiebreak) and applied to the current dimension:
    * close the changed keys' open intervals, insert new open versions,
    * no-op value-equal rows. Publishes through [[VersionedTable]] like
    * [[upsertSink]]. At-least-once replay is absorbed by ScdApply's
    * value-equal no-op — a re-delivered batch finds every change
    * already current and republishes value-equal state; the version
    * NUMBER is the only side effect of replay (StreamingIngestSpec). */
  def scd2Sink(changes: DataFrame, tableDir: String, key: String,
      value: String, from: String, to: String, keepVersions: Int = 0)
      : DataStreamWriter[Row] =
    versionedSink(changes, tableDir, keepVersions) { (base, batch) =>
      val collapsed = graft.operators.Upsert(emptyLike(batch), batch,
        Seq(key), from, tiebreak = Seq(col(value).desc))
      graft.operators.ScdApply(
        base.getOrElse(
          emptyLike(batch).withColumn(to, lit(null).cast("timestamp"))),
        collapsed, key, value, from, to)
    }

  /** Streaming CDC apply — the foreachBatch form of q_cdc_apply: each
    * micro-batch of (key, seq, 'I'|'U'|'D', payload) ops merges into a
    * materialized op-state table via
    * [[graft.operators.CdcApply.winners]]. The stored table keeps each
    * key's WINNING op row (including its seq) and retains delete
    * winners as TOMBSTONES, so cross-batch ordering is decided by the
    * ops' own sequence numbers, not arrival order: a re-delivered
    * (at-least-once) batch re-derives the same winners — value-equal
    * overwrite, state unchanged — an out-of-order older batch loses
    * every per-key contest, and a tombstone keeps a replayed older
    * insert from resurrecting a deleted key. Readers filter tombstones
    * ([[readCdcTable]]); tombstone retention is a compaction policy,
    * not a correctness input. Publishes through [[VersionedTable]]
    * like [[upsertSink]]. */
  def cdcSink(ops: DataFrame, tableDir: String, key: String, seq: String,
      op: String, keepVersions: Int = 0): DataStreamWriter[Row] =
    versionedSink(ops, tableDir, keepVersions) { (base, batch) =>
      graft.operators.CdcApply.winners(
        base.getOrElse(emptyLike(batch)).unionByName(batch), key, seq, op)
    }

  /** Live (non-tombstone) rows of a [[cdcSink]]-maintained table —
    * the current committed snapshot, resolved lock-free against
    * concurrent publishes. */
  def readCdcTable(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, op: String): DataFrame =
    VersionedTable.read(spark, tableDir)
      .getOrElse(sys.error(s"no committed CDC table at $tableDir"))
      .filter(col(op) =!= "D")

  /** Stream-stream INTERVAL join: purchases matched to same-user
    * signups within the preceding hour. One equi key (user_id) plus a
    * bounded time-range residual — the equi key keeps it a shuffled
    * hash/merge join at scale (never all-pairs), and the time bound is
    * what lets the streaming form evict join state.
    *
    * Expects pre-projected sides: purchases(purchase_id, user_id, pts),
    * signups(signup_id, s_user_id, sts).
    */
  def intervalJoin(purchases: DataFrame, signups: DataFrame): DataFrame =
    purchases.join(signups,
        col("s_user_id") === col("user_id") &&
        col("sts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
        col("sts") <= col("pts"))
      .select(col("purchase_id"), col("signup_id"))

  /** Streaming form: watermarks on BOTH sides so the interval bound
    * becomes a state-eviction guarantee (signup state older than the
    * purchase watermark minus 1h is dropped). */
  def intervalJoinStream(purchases: DataFrame, signups: DataFrame,
      watermark: String): DataFrame =
    intervalJoin(
      purchases.withWatermark("pts", watermark),
      signups.withWatermark("sts", watermark))

  /** LEFT OUTER stream-stream interval join: every purchase emits, with
    * a null signup when no same-user signup precedes it within an hour.
    * Same equi key + bounded interval as [[intervalJoin]]; the outer
    * semantics add the delayed-emission rule — a purchase can only be
    * declared unmatched once the signup-side watermark passes its
    * interval's upper bound, so null-padded rows surface a watermark
    * late (asserted against the streaming form in StreamingSpec). */
  def leftOuterIntervalJoin(purchases: DataFrame, signups: DataFrame): DataFrame =
    purchases.join(signups,
        col("s_user_id") === col("user_id") &&
        col("sts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
        col("sts") <= col("pts"), "left_outer")
      .select(col("purchase_id"), col("signup_id"))

  def leftOuterIntervalJoinStream(purchases: DataFrame, signups: DataFrame,
      watermark: String): DataFrame =
    leftOuterIntervalJoin(
      purchases.withWatermark("pts", watermark),
      signups.withWatermark("sts", watermark))

  /** FULL OUTER stream-stream interval join — reconciliation shape:
    * both unmatched purchases AND unmatched signups surface with a
    * null opposite side (e.g. auditing conversion events against
    * their attributions, where orphans on either side are the rows of
    * interest). Same equi key + bounded interval as [[intervalJoin]];
    * the outer rule applies to BOTH sides — each side's unmatched row
    * emits only once the OTHER side's watermark has passed its
    * interval, so state on both sides stays bounded (asserted in
    * StreamingSpec against the batch form). */
  def fullOuterIntervalJoin(purchases: DataFrame, signups: DataFrame): DataFrame =
    purchases.join(signups,
        col("s_user_id") === col("user_id") &&
        col("sts") >= col("pts") - expr("INTERVAL 1 HOUR") &&
        col("sts") <= col("pts"), "full_outer")
      .select(col("purchase_id"), col("signup_id"))

  def fullOuterIntervalJoinStream(purchases: DataFrame, signups: DataFrame,
      watermark: String): DataFrame =
    fullOuterIntervalJoin(
      purchases.withWatermark("pts", watermark),
      signups.withWatermark("sts", watermark))

  /** Stream-STATIC enrichment join: each event picks up its dimension
    * row by equi key. On a stream, Spark re-plans the static side per
    * micro-batch (so dimension updates between batches are visible) and
    * broadcasts it when small — the canonical fact-stream × dim-table
    * shape. Works identically on batch inputs (oracle-checked as
    * q_stream_static_join).
    *
    * `dimKey` names the dimension's join column explicitly — inferring
    * it positionally would silently mis-join on a reordered projection.
    */
  def staticEnrich(events: DataFrame, dim: DataFrame, dimKey: String): DataFrame =
    events.join(dim, col("user_id") === dim(dimKey))

  /** Stream-static ANTI join — incremental ingest hygiene: arriving
    * rows whose key exists in a static reference set (already-ingested
    * fingerprints, benchmark grams) are dropped before they reach the
    * sink. Supported natively by Structured Streaming (left_anti with a
    * static right side, re-planned per micro-batch). */
  def antiEnrich(events: DataFrame, reference: DataFrame, key: String): DataFrame =
    events.join(reference, events("user_id") === reference(key), "left_anti")

  /** Custom per-key state via flatMapGroupsWithState (the
    * KeyValueGroupedDataset escape hatch for semantics windows can't
    * express): per user, lifetime event count and session count with a
    * `gapMinutes` gap, carried ACROSS micro-batches in the state store.
    * Works identically on batch Datasets (empty initial state per key).
    *
    * Ordering note: within one invocation events are sorted by event
    * time; cross-batch ordering is the responsibility of upstream
    * watermarking (out-of-order rows older than the last seen ts would
    * need a timeout+buffer design — out of scope here).
    */
  /** The per-key session fold shared by all three custom-state
    * operators (flatMapGroupsWithState, TWS, TWS+timers) — one
    * definition so the variants cannot drift from the parity baseline
    * StatefulSpec asserts. Events sort by event time WITHIN the
    * invocation; cross-batch ordering remains upstream watermarking's
    * job (see the ordering note on [[userActivity]]). */
  private[streaming] def advanceActivity(s0: ActivityState,
      rows: Iterator[UserEvent], gapMinutes: Int): ActivityState = {
    var s = s0
    rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val newSession = s.lastTsMs == Long.MinValue ||
        e.ts.getTime - s.lastTsMs > gapMinutes * 60000L
      s = ActivityState(s.nEvents + 1,
        s.nSessions + (if (newSession) 1 else 0), e.ts.getTime)
    }
    s
  }

  def userActivity(events: Dataset[UserEvent], gapMinutes: Int): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ActivityState, UserActivity](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (userId, evs, state) =>
          val s = advanceActivity(
            state.getOption.getOrElse(ActivityState(0L, 0L, Long.MinValue)),
            evs, gapMinutes)
          state.update(s)
          Iterator(UserActivity(userId, s.nEvents, s.nSessions))
      }
  }

  /** The same per-user activity state on Spark 4's `transformWithState`
    * — the successor API to flatMapGroupsWithState: named typed state
    * variables against the state store, per-state TTL, timers, and
    * schema evolution. Output parity with [[userActivity]] is asserted
    * in StatefulSpec. The TWS execution path requires the RocksDB state
    * store provider. */
  class ActivityProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserActivity] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[ActivityState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[ActivityState]("activity",
        org.apache.spark.sql.Encoders.product[ActivityState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserActivity] = {
      val s = advanceActivity(
        if (state.exists()) state.get() else ActivityState(0L, 0L, Long.MinValue),
        rows, gapMinutes)
      state.update(s)
      Iterator.single(UserActivity(key, s.nEvents, s.nSessions))
    }
  }

  def userActivityTws(events: Dataset[UserEvent], gapMinutes: Int): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ActivityProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** [[ActivityProcessor]] plus TIMER-DRIVEN eviction — the TWS feature
    * that keeps per-key state bounded by the ACTIVE key population, not
    * the ever-seen one: every event (re-)arms one event-time timer at
    * lastTs + idle (the previous timer is deleted, so a key never holds
    * more than one), and when the watermark passes an expiry with no
    * newer activity the key's state clears. Without this, a churning
    * user base (the 100 TB reality: most users seen once, never again)
    * accretes state forever even though no window ever reads it again.
    * StreamingSoakSpec asserts numRowsTotal DECREASES once keys go
    * quiet and lands on the still-active population. */
  class IdleEvictProcessor(gapMinutes: Int, idleMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserActivity] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    private def idleMs: Long = idleMinutes * 60000L
    @transient private var state: ValueState[ActivityState] = _
    // The armed eviction deadline, tracked SEPARATELY from the session
    // state and advanced MONOTONICALLY: the session fold's lastTsMs
    // tracks the latest event in fold order, so a late-but-valid event
    // (older than a previously seen one, still inside the watermark)
    // can REGRESS it — deriving the deadline from lastTsMs would then
    // re-arm the timer EARLIER than the key's true last activity and
    // clear live state prematurely. max(old deadline, new lastTs+idle)
    // equals (max event time ever seen) + idle, which is the correct
    // idle semantics under any arrival order the watermark admits.
    @transient private var deadline: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      state = getHandle.getValueState[ActivityState]("activity",
        org.apache.spark.sql.Encoders.product[ActivityState], TTLConfig.NONE)
      deadline = getHandle.getValueState[Long]("deadline",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserActivity] = {
      val s = advanceActivity(
        if (state.exists()) state.get() else ActivityState(0L, 0L, Long.MinValue),
        rows, gapMinutes)
      state.update(s)
      // one live timer per key, at a never-regressing deadline
      val prev = if (deadline.exists()) Some(deadline.get()) else None
      val next = math.max(prev.getOrElse(Long.MinValue), s.lastTsMs + idleMs)
      if (!prev.contains(next)) {
        prev.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(next)
        deadline.update(next)
      }
      Iterator.single(UserActivity(key, s.nEvents, s.nSessions))
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[UserActivity] = {
      // only the LIVE deadline evicts (single-live-timer discipline
      // makes stale firings impossible; keep the guard defensive)
      if (deadline.exists() &&
          deadline.get() <= expiredTimerInfo.getExpiryTimeInMs) {
        state.clear()
        deadline.clear()
      }
      Iterator.empty
    }
  }

  /** Event-time TWS with idle-key eviction (see [[IdleEvictProcessor]]);
    * `watermark` drives the timers, so it must be set for eviction to
    * make progress. */
  def userActivityTwsIdle(events: Dataset[UserEvent], gapMinutes: Int,
      idleMinutes: Int, watermark: String): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new IdleEvictProcessor(gapMinutes, idleMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update())
  }
}
