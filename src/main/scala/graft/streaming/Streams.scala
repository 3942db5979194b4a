package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Structured Streaming forms of the engine's append-shaped flows —
  * the reference's incremental `add_documents` ingest
  * (multiple_document_upload.py:168) is batch in the reference but
  * naturally streaming (SURVEY.md §2.3 X7). (Its chat log,
  * [[ChatRecord]], is a plain per-turn file append: [[ChatLog]].)
  * The transformations are shared with the batch queries; only the source/
  * sink binding differs — the Spark streaming/batch unification does the
  * rest.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark;
  * sessionization state is per-key and timeout-evicted. Both shuffle on
  * the group key only.
  */
object Streams {

  /** Chat-log record (reference app.py:436-443). */
  case class ChatRecord(ts: Timestamp, user: String, question: String, answer: String)

  /** Event shape of the `events` fixture table. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** Per-user session accumulator for stateful processing. */
  case class SessionState(nEvents: Long, lastTsMicros: Long, nSessions: Long)
  case class SessionUpdate(user_id: Long, n_events: Long, n_sessions: Long)

  /** Watermarked window counts by event type — the streaming twin of
    * EventQueries.eventsHourly (tumbling default) and slidingWindow
    * (`slide` < `window_` makes the windows overlap; each event lands in
    * window_/slide of them). Works on any streaming or batch frame with
    * (ts, event_type, value). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours", slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide.getOrElse(window_)).as("w"), col("event_type"))
      // decimal accumulation: deterministic under any parallelism/ordering
      // (same contract as the batch oracle queries)
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,6)")).as("sv"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"),
        col("sv").cast("double").as("sum_value"))

  /** Native session windows: one row per (user, session), a session being
    * a maximal run of events with consecutive gaps strictly under `gap`
    * (Spark merges [a, a+gap) and [b, b+gap) only when they overlap, so a
    * gap of exactly `gap` STARTS a new session — the oracle mirrors this
    * with `>=`). Works batch or streaming unchanged; in streaming the
    * per-session state is closed and evicted once the watermark passes
    * session end, so state is bounded by active sessions, not history. */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))

  /** Streaming per-key distinct cardinality on the state API v2
    * (`transformWithState`, Spark 4): each key's state is one mergeable
    * KMV sketch ([[graft.core.KmvDistinct]]) — constant 8k bytes per key
    * regardless of stream length, updated incrementally per micro-batch,
    * emitting the running estimate. The streaming twin of the batch
    * `kmv_distinct` query: below k the estimate is EXACT, so the final
    * update equals batch COUNT(DISTINCT) (StreamsSpec pins it).
    * Requires the RocksDB state store provider (v2 API constraint). */
  case class DistinctUpdate(key: String, n_distinct: Long)

  class KmvStateProcessor(k: Int)
      extends StatefulProcessor[String, (String, Long), DistinctUpdate] {
    @transient private var state: ValueState[Seq[Long]] = _
    private val agg = new graft.core.KmvDistinct(k)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Seq[Long]]("kmv",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]](),
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timers: TimerValues): Iterator[DistinctUpdate] = {
      // bulk-sketch the batch (O(n log n)) and merge once — the per-row
      // Aggregator insert would pay an O(k) immutable copy per event
      val batch = agg.sketchOf(rows.map(_._2))
      val b = agg.merge(Option(state.get()).getOrElse(agg.zero), batch)
      state.update(b)
      Iterator.single(DistinctUpdate(key, agg.finish(b)))
    }
  }

  /** Running distinct `valueOf(e)` per `keyOf(e)` over a (streaming or
    * batch) event set — e.g. distinct users per event type. */
  def distinctByKey(events: Dataset[Event], k: Int = 1024,
      keyOf: Event => String = _.event_type,
      valueOf: Event => Long = _.user_id): Dataset[DistinctUpdate] = {
    import events.sparkSession.implicits._
    events.map(e => (keyOf(e), valueOf(e)))
      .groupByKey(_._1)
      .transformWithState(new KmvStateProcessor(k), TimeMode.None(), OutputMode.Update())
  }

  /** Inactivity alert emitted when a key's event-time TIMER fires. */
  case class InactivityAlert(user_id: Long, last_seen_us: Long, n_events: Long)

  /** Per-key inactivity watchdog on the state API v2's EVENT-TIME TIMERS
    * (`transformWithState` + `registerTimer`, Spark 4): every input
    * batch re-arms the key's single timer to (last seen + gap); when the
    * WATERMARK passes that deadline with no newer event having re-armed
    * it, [[handleExpiredTimer]] fires once with the state at expiry —
    * the abandoned-cart / dead-sensor / stalled-crawl alert, emitted
    * WITHOUT any input row for the key (the capability that separates
    * timers from plain stateful aggregation: silence itself is the
    * signal). A key that re-appears after alerting re-arms and can alert
    * again — one alert per observed inactivity period. Timer semantics
    * probed and pinned in StreamsSpec: input rows process BEFORE expiry
    * evaluation within a batch (an active key re-arms, no spurious
    * alert), and a timer fires in the first batch whose watermark is
    * ≥ its deadline. State per key is two longs + one timer — bounded
    * by live keys, not history. */
  class InactivityProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, Long), InactivityAlert] {
    @transient private var state: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("last",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long)](),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[InactivityAlert] = {
      var (last, n) = Option(state.get()).getOrElse((Long.MinValue, 0L))
      rows.foreach { case (_, us) => if (us > last) last = us; n += 1 }
      state.update((last, n))
      // exactly one live timer per key: re-arm to the newest deadline
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(last / 1000 + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[InactivityAlert] = {
      val (last, n) = state.get() // a fired timer implies state exists
      Iterator.single(InactivityAlert(key, last, n))
    }
  }

  /** Inactivity alerts over a watermarked (streaming or batch-staged)
    * events frame: emits one [[InactivityAlert]] per key per observed
    * gap ≥ `gapMs` of event-time silence. Requires the RocksDB state
    * store provider (v2 API constraint, like [[distinctByKey]]). */
  def inactivityAlerts(events: DataFrame, gapMs: Long,
      watermark: String = "2 hours"): Dataset[InactivityAlert] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new InactivityProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stateful sessionization with mapGroupsWithState: counts 30-minute-gap
    * sessions per user incrementally — the streaming twin of
    * EventQueries.sessionize. */
  def sessionCounts(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60 * 1000000
    // true microseconds: Timestamp.getTime is millis-truncated; the batch
    // twin (EventQueries.sessionize) uses unix_micros, and a sub-ms
    // difference at the exact gap boundary must classify identically
    def micros(ts: Timestamp): Long = ts.getTime / 1000 * 1000000L + ts.getNanos / 1000
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          var (n, last, sessions) = (prev.nEvents, prev.lastTsMicros, prev.nSessions)
          for (e <- it.toSeq.sortBy(e => (micros(e.ts), e.event_id))) {
            val us = micros(e.ts)
            if (last == Long.MinValue || us - last > gapUs) sessions += 1
            last = us
            n += 1
          }
          state.update(SessionState(n, last, sessions))
          SessionUpdate(user, n, sessions)
      }
  }

  /** Streaming exact-dedup over any event-time frame with the named
    * timestamp column: keeps the first ARRIVAL per key on the streaming
    * path, with state bounded by the watermark
    * (dropDuplicatesWithinWatermark evicts keys once they age past it, so
    * state does not grow with the stream). The batch twin keeps the
    * first row by EVENT TIME per key (row_number over (key, tsCol)) —
    * deterministic, unlike a bare dropDuplicates, and identical to the
    * streaming result whenever arrival order follows event time (e.g.
    * backfilling from an ordered log). */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).asc)
      events.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Stream–static enrichment join: each micro-batch of events joins the
    * dimension frame on the key — the standard shape for stamping a
    * stream with reference data. No streaming state is kept; the static
    * side is broadcast when small (AQE decides). Freshness caveat: the
    * static subplan is re-executed per micro-batch, but its CONTENTS are
    * pinned at DataFrame definition (a LocalRelation never changes; a
    * file-backed frame's file listing is fixed at plan time) — to pick up
    * dimension updates, rebuild the dim frame (or back it with a
    * catalog table/Delta source that refreshes) and restart the query.
    * Works identically on a batch frame (the join is source-agnostic). */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream–stream interval join: purchases matched to same-user signups
    * that happened at most `withinHours` earlier. Both sides carry
    * watermarks and the join condition bounds the time skew, so each
    * side's buffered state is evicted once it ages past
    * watermark + interval — the canonical bounded-state two-stream join.
    * Works on batch frames identically (the condition is source-
    * agnostic). */
  def signupPurchaseJoin(signups: DataFrame, purchases: DataFrame,
      withinHours: Int = 24, watermark: String = "2 hours"): DataFrame = {
    val s = signups.withWatermark("ts", watermark)
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("signup_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    p.join(s,
      col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr(s"INTERVAL $withinHours HOURS"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("signup_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("lag_us"))
  }

  /** Streaming UPSERT sink (CDC apply): each micro-batch collapses to
    * its newest row per key — max over a (orderCol…, payload) struct,
    * associative, so the within-batch winner is batching-independent —
    * then resolves against the RESIDENT row (read-compare) so an
    * out-of-order batch can never regress a key to older state, and
    * lands through [[graft.store.Versioned.mergeBatchIdempotent]]:
    * upsert data + batch marker in one atomic commit, replay-safe. The
    * final table therefore equals "latest row per key by event order"
    * no matter how arrival order interleaves — the contract the
    * `stream_upsert` oracle checks. Works on a batch frame too (one
    * batchId). */
  def upsertStream(events: DataFrame, table: String, checkpoint: String,
      keys: Seq[String], orderCols: Seq[String]):
      org.apache.spark.sql.streaming.StreamingQuery = {
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyUpsertBatch(batch, table, keys, orderCols, batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** One micro-batch of the upsert sink — separated so specs can drive
    * replay/out-of-order cases directly. */
  def applyUpsertBatch(batch: DataFrame, table: String, keys: Seq[String],
      orderCols: Seq[String], batchId: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val payload = batch.columns.filterNot(keys.contains)
    val ordStruct = struct((orderCols ++ payload.filterNot(orderCols.contains))
      .map(col): _*)
    val latest = batch.groupBy(keys.map(col): _*)
      .agg(max(ordStruct).as("__w"))
      .select(keys.map(col) ++ payload.map(p => col(s"__w.$p").as(p)): _*)
    val resolved =
      if (graft.store.Versioned.currentVersion(table) == 0) latest
      else resolveAgainstResident(
        graft.store.Versioned.read(spark, table), latest, keys,
        orderCols ++ payload.filterNot(orderCols.contains))
    graft.store.Versioned.mergeBatchIdempotent(
      spark, table, resolved, keys, batchId)
  }

  /** Keep only the `latest` rows strictly newer than the resident row
    * for their key (or with no resident row at all). The resident read is
    * O(batch), never O(table): `cur` is semi-joined on the batch's keys
    * BEFORE the per-key max aggregate, so a small CDC batch against a
    * 100 TB table aggregates only the rows sharing the batch's keys —
    * the batch-key side is tiny and broadcasts, and the aggregate's
    * input is bounded by (batch keys × rows per key), not table size.
    * Without the prune, a stream triggering every minute re-aggregates
    * the entire store per micro-batch — O(table · batches), the classic
    * incremental-pipeline scale-killer (same recipe as
    * [[graft.store.Versioned.merge]]'s affected-file semi-join, one
    * layer up). StreamsSpec pins the semi-join BELOW the aggregate. */
  private[graft] def resolveAgainstResident(cur: DataFrame, latest: DataFrame,
      keys: Seq[String], ordCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val resident = cur
      .join(latest.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(max(struct(ordCols.map(col): _*)).as("__r"))
    latest.join(resident, keys, "left")
      .filter(col("__r").isNull || struct(ordCols.map(col): _*) > col("__r"))
      .drop("__r")
  }

  /** Streaming parquet source over an events-shaped directory. */
  def eventStream(spark: SparkSession, dir: String, schemaFrom: DataFrame): DataFrame =
    spark.readStream.schema(schemaFrom.schema).parquet(dir)

  /** Append-only parquet streaming sink. No main source starts one: its
    * one caller is [[ChatLog.relay]], kept only for the journey
    * benchmark's traced routes, and both go when those routes do. */
  def appendSink(df: DataFrame, outDir: String, checkpointDir: String,
      queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .queryName(queryName)
      .start()
}
