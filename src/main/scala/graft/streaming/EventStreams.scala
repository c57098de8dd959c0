package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Streaming surface over the events table (absent in the reference —
  * SURVEY.md §2.4 streaming row; Layer B). Transformations are written
  * against plain DataFrames so the SAME code runs in batch (driver
  * correctness gate, DuckDB oracle) and under Structured Streaming
  * (readStream → writeStream, exercised in StreamingSpec with a memory
  * sink): Catalyst plans the incremental execution, state store and
  * watermark-based late-data handling. */
object EventStreams {

  val EventsSchema = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
    "event_type STRING, value DOUBLE, props STRING"

  /** Tumbling (or sliding, when slide != duration) window aggregation
    * with a watermark. Works on batch and streaming inputs alike. */
  def windowedAgg(events: DataFrame, duration: String, slide: String,
                  watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), duration, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** st15 — CHAINED windowed aggregations: 10-minute sub-window
    * partials per event type rolled up into 1-hour totals, TWO
    * stateful operators in one query (Spark's multi-stateful-operator
    * streaming support; the outer groupBy keys on
    * `window_time(window)`, the event-time column the first aggregate
    * emits). Why chain instead of aggregating the hour directly: the
    * first stage compacts the raw stream to one row per (sub-window,
    * type) BEFORE the second sees anything — at 100 TB/day the hourly
    * state holds thousands of partial rows, not billions of events —
    * and the sub-window stream is itself reusable by finer-grained
    * consumers. Value is micro-unit integer end to end (the st11
    * DECIMAL(18,6) route), so the two-level sum is bit-exact against
    * the one-level oracle. Same code runs in batch for the driver
    * gate. */
  def chainedRollup(events: DataFrame, watermark: String): DataFrame = {
    val sub = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(DecimalType(18, 6)) * 1000000)
          .cast("long")).as("v"))
    sub
      .groupBy(window(window_time(col("window")), "1 hour"),
        col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("v")).as("value_micros"),
        count(lit(1)).as("n_subwindows"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("w_start"),
        col("event_type"), col("n_events"), col("value_micros"),
        col("n_subwindows"))
  }

  /** st16 — sessionization via the NATIVE `session_window` aggregate
    * (vs st03's hand-built lag + running-sum formulation): the state
    * store merges overlapping [ts, ts+gap) windows per user, which is
    * the platform-managed path for streaming sessions — no custom
    * state code, watermark-driven eviction for free. Boundary
    * semantics match st03 exactly — windows that TOUCH merge (the
    * merge test is start <= current session end), so an event at
    * precisely prev_ts + gap extends the session, same as the lag
    * formulation's strict `> gap` split; StreamingSpec pins this.
    * Same code runs in batch for the driver gate. */
  def sessionWindowAgg(events: DataFrame, gap: String,
                       watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"), col("total_value"))

  /** Batch sessionization: a session closes after `gapMinutes` of user
    * inactivity. Classic lag + running-sum-of-boundaries formulation —
    * one shuffle on user_id, everything else window functions. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(byUser)
    // millisecond precision, matching sessionizeStream's getTime-based
    // gap comparison (unix_timestamp would truncate to seconds and
    // disagree on sub-second boundaries)
    val isNew = when(prevTs.isNull ||
      unix_millis(col("ts")) - unix_millis(prevTs) >
        gapMinutes * 60000L, 1L).otherwise(0L)
    events
      .withColumn("session_no",
        sum(isNew).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"))
  }

  /** At-least-once → effectively-once: drop replayed events by id,
    * keeping dedup state only within the watermark horizon (state is
    * bounded — the 100 TB-stream-safe shape; a plain dropDuplicates
    * would grow state forever). Batch callers get ordinary
    * dropDuplicates semantics from the same call site. */
  def dedupEvents(events: DataFrame, watermark: String): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** Stream-stream attribution join: each purchase paired with the
    * same user's clicks in the preceding `windowMinutes`. The identical
    * join predicate runs in batch and in Structured Streaming — in
    * streaming, the event-time range condition plus per-input
    * watermarks let Spark expire click state older than
    * watermark − interval, so join state stays bounded no matter how
    * long the streams run (inner-join results still emit eagerly). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int, watermark: String): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    val c = wm(clicks).select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("value").as("c_value"))
    val p = wm(purchases).select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") -
          expr(s"INTERVAL '$windowMinutes' MINUTE"))
  }

  /** Left-outer stream-stream attribution: like [[attributionJoin]],
    * but purchases with NO preceding click still emit, null-padded —
    * the "every purchase must appear in the report" variant. In
    * streaming this is a semantically different machine from the inner
    * join: a null-padded row can only be produced once the watermark
    * proves no matching click can still arrive, so unmatched results
    * emit with watermark delay (inner matches still emit eagerly) and
    * state stays bounded by the same watermark + range-condition
    * eviction. Batch callers get an ordinary left outer join. */
  def attributionOuterJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int, watermark: String): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    val c = wm(clicks).select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("value").as("c_value"))
    val p = wm(purchases).select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user"), col("ts").as("p_ts"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") -
          expr(s"INTERVAL '$windowMinutes' MINUTE"),
      "left_outer")
  }

  /** Stream-static enrichment join: decorate each event with dimension
    * attributes looked up by user id. The static side is a bounded
    * table re-broadcast per micro-batch (Spark re-plans the batch side
    * each trigger, so slowly-changing dimensions pick up updates
    * without restarting the stream); the stream side never shuffles —
    * stateless, no watermark required, safe for unbounded streams.
    * The SAME call site serves batch callers (the oracle path). */
  def enrich(events: DataFrame, dim: DataFrame,
             dimKey: String): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim(dimKey))

  /** Batch quota gate: keep only the first `n` events per (user, day)
    * in event-time order — the ingestion fairness cap every
    * multi-tenant pipeline applies (one hot user must not dominate a
    * day's corpus). One shuffle on (user_id, day); rank + filter are
    * window work inside that partition. Returns the input rows plus a
    * `kept` flag so callers can audit what the cap dropped. */
  def quotaBatch(events: DataFrame, n: Int): DataFrame = {
    val byUserDay = Window
      .partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id"))
    events.withColumn("kept",
      (row_number().over(byUserDay) <= n).cast("long"))
  }

  // ---------------- streaming sessionization (stateful) ----------------

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     n_events: Long, total_value: Double)

  case class KeptEvent(event_id: Long, ts: java.sql.Timestamp,
                       user_id: Long, value: Double)

  /** Streaming twin of [[quotaBatch]]: emits the events that pass the
    * per-(user, day) cap as they arrive. State is ONE counter per
    * active (user, day) key, expired by event-time timeout once the
    * watermark passes the day's end — bounded no matter how long the
    * stream runs. Within a micro-batch events are processed in event-
    * time order, so replaying the stream through any batch slicing
    * keeps exactly the rows [[quotaBatch]] keeps (tested). */
  def quotaStream(events: Dataset[Event], n: Int): Dataset[KeptEvent] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    events.groupByKey(e => (e.user_id, e.ts.getTime / dayMs))
      .flatMapGroupsWithState[Long, KeptEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), rows: Iterator[Event],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var c = state.getOption.getOrElse(0L)
            // micros-exact within-batch order, matching quotaBatch's
            // window ORDER BY ts (getTime alone is ms-truncated and
            // could mis-rank sub-ms neighbors at the cap boundary)
            val kept = rows.toSeq.sortBy(e => (epochUs(e.ts), e.event_id))
              .filter { e => val ok = c < n; if (ok) c += 1; ok }
              .map(e => KeptEvent(e.event_id, e.ts, e.user_id, e.value))
            state.update(c)
            // drop the counter once the watermark clears the day
            state.setTimeoutTimestamp((key._2 + 1) * dayMs)
            kept.iterator
          }
      }
  }

  /** Streaming sessionization via flatMapGroupsWithState: one state
    * entry per user, sessions emitted on gap timeout. State size is
    * O(active users) — the scale-safe shape for unbounded streams. */
  def sessionizeStream(events: Dataset[Event],
                       gapMinutes: Int): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer[Session]()
          var st = state.getOption.orNull
          // process events in time order within the batch
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (st == null) st = SessionState(t, t, 1, e.value)
            else if (t - st.lastTs > gapMs) {
              out += Session(userId, new java.sql.Timestamp(st.start),
                st.n, st.total)
              st = SessionState(t, t, 1, e.value)
            } else st = st.copy(lastTs = t, n = st.n + 1,
              total = st.total + e.value)
          }
          if (state.hasTimedOut && st != null) {
            out += Session(userId, new java.sql.Timestamp(st.start),
              st.n, st.total)
            st = null
          }
          if (st != null) {
            state.update(st)
            state.setTimeoutTimestamp(st.lastTs + gapMs)
          } else state.remove()
          out.iterator
      }
  }

  // --------------- spend alerts (transformWithState, Spark 4 API) ---------------

  case class SpendAlert(user_id: Long, event_id: Long, cum_micros: Long,
                        level: Long)

  /** Micro-unit conversion shared by the stream processor and the
    * batch twin's expectations: identical to Spark's
    * `cast(value as decimal(18,6)) * 1000000 → long` (double→decimal
    * goes through `Double.toString`, HALF_UP at scale 6). */
  private[graft] def valueMicros(value: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(value))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** Per-user cumulative spend monitor on the arbitrary-state v2 API
    * ([[org.apache.spark.sql.streaming.StatefulProcessor]] via
    * `transformWithState`, RocksDB-backed): one ValueState[Long]
    * holds the running micro-unit total; an alert row is emitted each
    * time the total crosses a multiple of `thresholdMicros`. Within a
    * batch, rows are processed in (ts, event_id) order so any batch
    * slicing of the stream replays to the identical alert set
    * (tested); state is one long per user — bounded. */
  class SpendMonitor(thresholdMicros: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SpendAlert] {
    @transient private var cum:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SpendAlert] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = scala.collection.mutable.ArrayBuffer.empty[SpendAlert]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val c2 = c + valueMicros(e.value)
        if (c2 / thresholdMicros > c / thresholdMicros)
          out += SpendAlert(key, e.event_id, c2, c2 / thresholdMicros)
        c = c2
      }
      cum.update(c)
      out.iterator
    }
  }

  // ------------- recent-basket features (ListState, v2 API) -------------

  case class BasketRow(user_id: Long, event_id: Long, basket: String,
                       basket_sum: Long)

  /** Rolling recent-context features on [[ListState]]: for every
    * purchase, the user's last-up-to-`n` purchase amounts (micro-unit
    * integers, oldest first) and their sum — the feature-generation
    * shape online inference pipelines maintain per entity. The list
    * state is trimmed to `n` on every update, so state is O(n) per
    * user no matter how long the stream runs. */
  class BasketBuilder(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, BasketRow] {
    @transient private var recent:
      org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[BasketRow] = {
      var window = if (recent.exists()) recent.get().toVector
        else Vector.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[BasketRow]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        window = (window :+ valueMicros(e.value)).takeRight(n)
        out += BasketRow(key, e.event_id, window.mkString("-"), window.sum)
      }
      recent.put(window.toArray)
      out.iterator
    }
  }

  /** Batch twin of [[BasketBuilder]]: a rows-bounded window collect —
    * ONE shuffle on user_id, the basket never exceeds `n` values. */
  def recentBasketBatch(events: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(n - 1), Window.currentRow)
    spendStream(events)
      .withColumn("micros",
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long"))
      .select(col("user_id"), col("event_id"),
        array_join(collect_list(col("micros")).over(w), "-").as("basket"),
        sum(col("micros")).over(w).as("basket_sum"))
  }

  /** Streaming twin on the v2 API — same rows, incremental. */
  def recentBasketStream(events: Dataset[Event],
                         n: Int): Dataset[BasketRow] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type == "purchase" && e.value >= 0)
      .groupByKey(_.user_id)
      .transformWithState(new BasketBuilder(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // ----------- idle detection (event-time timers, v2 API) -----------

  case class IdleAlert(user_id: Long, last_seen_us: Long, idle_at_us: Long)

  /** Exact epoch micros of an event timestamp (java.sql.Timestamp
    * carries ms in getTime plus full sub-second nanos; Spark's own
    * encoder conversion is the same arithmetic). Timers and
    * watermarks are ms-quantized, but emitted ALERT VALUES must be
    * micros-exact to hash-match the batch oracle. */
  private[graft] def epochUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Event-time-timer idleness detector on the v2 API — the
    * push-based "entity went quiet" primitive (session expiry,
    * heartbeat loss, cache invalidation) that polling formulations
    * scan the whole state store for. State is one (lastUs, alerted)
    * pair plus ONE registered timer per user — O(1).
    *
    * Built to be REPLAY-EXACT against [[idleBatch]] under
    * event-time-ordered batch slicing with a watermark delay of at
    * least 1 ms (st24 runs it in the gate against st13's oracle,
    * which satisfies both). The delay precondition exists because
    * timer arithmetic is ms-FLOORED while the batch twin's gap
    * predicate is micros-strict: with a sub-ms delay and
    * late-but-admitted rows, a pre-fired timer could alert a
    * mid-stream silence whose micros width falls within the 1 ms
    * band BELOW the gap, which the batch twin rejects. With >= 1 ms
    * delay the watermark trails every admitted row's event time by
    * at least the quantization band, so any pre-fired gap is also a
    * gap under the strict micros predicate. Invariants:
    *  - MID-STREAM gaps are detected from the input rows themselves
    *    (consecutive-pair scan in (ts, event_id) order, micros-exact
    *    strict `> gap`), never from timer timing — a silence wholly
    *    inside one micro-batch emits exactly like one that straddles
    *    batches.
    *  - TIMERS carry only what input rows cannot: the alert for a
    *    user whose silence is still open when the watermark passes
    *    `last + gap` (covers the trailing alert; may also pre-fire a
    *    mid-stream gap when the watermark passes first — provably
    *    consistent, since the watermark trails the user's next event
    *    by the delay, so a pre-fired gap is a real one).
    *  - The `alerted` flag dedups the two paths: a timer-fired alert
    *    marks the stored `lastUs` as already-alerted, and the
    *    input-row path skips the (stored, first-new) pair iff marked.
    *  - Timer/watermark arithmetic is ms-floored (pinned by
    *    StreamingSpec's "event-time timers fire iff ..." test:
    *    watermark = floor_ms(max event time) − delay; a timer fires
    *    iff timer_ms <= wm_ms);
    *    alert VALUES are computed from the micros-exact state, never
    *    from `ExpiredTimerInfo`. */
  class IdleDetector(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, IdleAlert] {
    private val gapUs = gapMs * 1000L
    @transient private var lastUs:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var alerted:
      org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      lastUs = getHandle.getValueState[Long]("lastUs",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      alerted = getHandle.getValueState[Boolean]("alerted",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[IdleAlert] = {
      val sorted = rows.toSeq
        .sortBy(e => (epochUs(e.ts), e.event_id)).map(e => epochUs(e.ts))
      val out = scala.collection.mutable.ArrayBuffer.empty[IdleAlert]
      var prev = if (lastUs.exists()) Some(lastUs.get()) else None
      // slide the pending timer (no-op if it already fired)
      prev.foreach(p => getHandle.deleteTimer(p / 1000L + gapMs))
      var prevAlerted = alerted.exists() && alerted.get()
      sorted.foreach { us =>
        prev match {
          case Some(p) if us - p > gapUs && !prevAlerted =>
            out += IdleAlert(key, p, p + gapUs)
          case _ => ()
        }
        prevAlerted = false // the flag only covers the stored prev
        prev = Some(us)
      }
      lastUs.update(prev.get)
      alerted.update(false)
      getHandle.registerTimer(prev.get / 1000L + gapMs)
      out.iterator
    }

    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[IdleAlert] =
      if (alerted.exists() && alerted.get()) Iterator.empty
      else {
        alerted.update(true)
        val p = lastUs.get()
        Iterator.single(IdleAlert(key, p, p + gapUs))
      }
  }

  /** Batch twin of [[IdleDetector]] over a finite log: an idle alert
    * after every consecutive-event gap wider than the threshold, plus
    * the trailing alert for users whose final silence the closing
    * watermark (corpus max ts − delay) has already confirmed. ONE
    * user_id shuffle; the global max is a broadcast scalar. */
  def idleBatch(events: DataFrame, gapMinutes: Int,
                watermarkMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gap = expr(s"INTERVAL '$gapMinutes' MINUTE")
    val mx = events.agg(max(col("ts")).as("max_ts"))
    events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .crossJoin(broadcast(mx))
      .filter(
        (col("next_ts").isNotNull && col("next_ts") > col("ts") + gap) ||
        (col("next_ts").isNull &&
          col("max_ts") - expr(s"INTERVAL '$watermarkMinutes' MINUTE")
            >= col("ts") + gap))
      .select(col("user_id"), unix_micros(col("ts")).as("last_seen_us"),
        unix_micros(col("ts") + gap).as("idle_at_us"))
  }

  /** Streaming twin on the v2 API — same alerts, pushed by timers. */
  def idleStream(events: Dataset[Event], gapMinutes: Int,
                 watermark: String): Dataset[IdleAlert] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new IdleDetector(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  // -------- point-in-time feature profiles (MapState, v2 API) --------

  case class ProfileRow(user_id: Long, event_id: Long, n_click: Long,
                        n_view: Long, n_purchase: Long, n_signup: Long,
                        n_error: Long)

  private[graft] val ProfileTypes =
    Seq("click", "view", "purchase", "signup", "error")

  /** Point-in-time-correct feature snapshots on [[MapState]]: for
    * every event, the user's per-event-type counts AS OF that event
    * (inclusive) — the feature-store discipline that avoids
    * training-serving skew, maintained incrementally instead of
    * recomputed per training run. State is one (type → count) map per
    * user, O(|types|); the snapshot is emitted per event, so the
    * stream IS the point-in-time feature log. */
  class ProfileBuilder
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, ProfileRow] {
    @transient private var profile:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      profile = getHandle.getMapState[String, Long]("profile",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ProfileRow] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[ProfileRow]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val n = (if (profile.containsKey(e.event_type))
          profile.getValue(e.event_type) else 0L) + 1L
        profile.updateValue(e.event_type, n)
        def c(t: String): Long =
          if (profile.containsKey(t)) profile.getValue(t) else 0L
        out += ProfileRow(key, e.event_id, c("click"), c("view"),
          c("purchase"), c("signup"), c("error"))
      }
      out.iterator
    }
  }

  /** Batch twin of [[ProfileBuilder]]: one user_id window, one
    * conditional running count per declared type — the offline
    * backfill of the same point-in-time feature log. */
  def profileBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counts = ProfileTypes.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w)
        .as(s"n_$t"))
    events.select(col("user_id") +: col("event_id") +: counts: _*)
  }

  /** Streaming twin on the v2 API — same snapshots, incremental. */
  def profileStream(events: Dataset[Event]): Dataset[ProfileRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ProfileBuilder,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // ------------- streaming quantile profile (GK state) -------------

  case class QProfileRow(event_type: String, n: Long, est_q50: Long,
                         est_q90: Long, est_q99: Long)

  /** Continuous quantile profiling on serialized GK state — the sk04
    * stored-sketch pattern run AS A STREAM: one
    * ValueState[Array[Byte]] per event_type holds the
    * [[graft.expr.GkStateCodec]] bytes (O((1/ε)·log εn), bounded
    * regardless of stream length — the property that makes quantile
    * monitoring of an unbounded stream possible at all); each batch
    * deserializes, inserts its rows in (ts, event_id) order, and
    * re-serializes — the state column a production monitor would
    * also snapshot outward per epoch (sk04's parquet half). Emits the
    * running (n, q50, q90, q99) per key per batch; the final profile
    * is the max-n row. Deterministic under the staged event-time-
    * ordered slicing; estimates are engine-specific (GK summary) →
    * rows-only, with the rank-band inv as the oracle-checked
    * contract. */
  class GkProfiler(accuracy: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Event, QProfileRow] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[Array[Byte]]("gk",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[QProfileRow] = {
      import org.apache.spark.sql.catalyst.util.QuantileSummaries
      var qs =
        if (st.exists()) graft.expr.GkStateCodec.deserialize(st.get())
        else new QuantileSummaries(
          QuantileSummaries.defaultCompressThreshold, 1.0 / accuracy)
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        qs = qs.insert(valueMicros(e.value).toDouble)
      }
      val c = if (qs.compressed) qs else qs.compress()
      st.update(graft.expr.GkStateCodec.serialize(c))
      def est(q: Double): Long = c.query(q).map(_.toLong).getOrElse(0L)
      Iterator.single(
        QProfileRow(key, c.count, est(0.5), est(0.9), est(0.99)))
    }
  }

  /** Streaming quantile profile per event type (v2 API, GK state). */
  def gkProfileStream(events: Dataset[Event],
      accuracy: Int): Dataset[QProfileRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new GkProfiler(accuracy),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // ------------- attribution (stream-stream interval join) -------------

  /** Purchase→click attribution as a STREAM-STREAM inner join with an
    * event-time interval condition: every (purchase, click) pair of
    * the same user where the click lands in the `windowMinutes` before
    * the purchase — STRICTLY after `p_ts − window`, inclusive at
    * `p_ts`. The half-open window is deliberate, not cosmetic: the
    * join's state horizon is derived from the interval (clicks with
    * `c_ts <= watermark − window` are evicted, equality evicted), so
    * a pair at EXACTLY `c_ts = p_ts − window` is the one row the
    * store may or may not still hold when the purchase arrives,
    * depending on micro-batch slicing — StreamingSpec pins the drop.
    * With the strict lower bound every matching click satisfies
    * `c_ts > wm − window` whenever its purchase is on time, so the
    * emitted SET is provably slicing-independent and equals the batch
    * twin's. The time constraint plus the per-side watermarks is what
    * makes unbounded two-stream state finite: state is O(events in
    * one window horizon) regardless of stream length — the only join
    * shape that survives an unbounded 100 TB/day event stream.
    * Inner-join matches are emitted as soon as both rows have
    * arrived, never watermark-delayed. */
  def attributionStream(events: DataFrame, windowMinutes: Int): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") > col("p_ts") -
          expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .as("gap_us"))
  }

  /** Batch twin of [[attributionStream]]: the same interval self-join
    * on the static frame (one shuffle on user_id; the interval
    * predicate is a post-join filter on same-user candidates). */
  def attributionBatch(events: DataFrame, windowMinutes: Int): DataFrame =
    attributionStream(events, windowMinutes)

  /** LEFT-OUTER variant of [[attributionStream]]: purchases with no
    * click in the window emit exactly one (purchase, −1, −1) row —
    * unattributed-conversion accounting. Unlike the inner join the
    * null side is WATERMARK-GATED: Spark can declare "no click will
    * ever match" only once the global watermark passes the
    * purchase's event time (the upper end of its click window), so
    * a null row emits one state-cleanup batch after its watermark
    * crossing, and purchases inside the final watermark horizon
    * never emit at all — the streaming-semantics fact st27's oracle
    * models explicitly (the st24 discipline: the platform's
    * quantized watermark arithmetic is the contract, stated rather
    * than hoped away). Matched rows behave exactly as in the inner
    * join. */
  def attributionOuterStream(events: DataFrame,
      windowMinutes: Int): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") > col("p_ts") -
          expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(unix_micros(col("p_ts")) - unix_micros(col("c_ts")),
          lit(-1L)).as("gap_us"))
  }

  /** The spend stream both paths monitor: non-negative purchases
    * only, so the threshold crossings use plain integer division on
    * monotone totals (identical in Spark, DuckDB and the processor). */
  def spendStream(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase" && col("value") >= 0)

  /** Batch twin of [[SpendMonitor]]: running DECIMAL-exact micro
    * totals per user via a window cumsum, alert rows where the total
    * crosses a threshold multiple. ONE shuffle on user_id. */
  def spendAlertsBatch(events: DataFrame, thresholdMicros: Long)
      : DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    spendStream(events)
      .withColumn("micros",
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("long"))
      .withColumn("cum_micros", sum(col("micros")).over(w))
      .withColumn("level", expr(s"cum_micros div ${thresholdMicros}L"))
      .filter(col("level") >
        expr(s"(cum_micros - micros) div ${thresholdMicros}L"))
      .select(col("user_id"), col("event_id"), col("cum_micros"),
        col("level"))
  }

  /** Streaming twin on the v2 API — same alerts, incremental. */
  def spendAlertsStream(events: Dataset[Event],
                        thresholdMicros: Long): Dataset[SpendAlert] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type == "purchase" && e.value >= 0)
      .groupByKey(_.user_id)
      .transformWithState(new SpendMonitor(thresholdMicros),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  // -------------------------------------- st17 foreachBatch upsert
  /** Latest-wins compaction of a (micro-)batch: one struct-max per
    * (user_id, event_type) — c04's partial-aggregable shape. */
  def compactLatest(df: DataFrame): DataFrame =
    df.groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"), col("value")))
        .as("latest"))

  private def versionDirs(stateDir: String): Seq[java.io.File] = {
    val d = new java.io.File(stateDir)
    Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .sortBy(_.getName)
  }

  /** The current upsert table: the highest committed state version. */
  def upsertStateRead(s: SparkSession, stateDir: String): Option[DataFrame] =
    versionDirs(stateDir).lastOption
      .map(f => s.read.parquet(f.getAbsolutePath))

  /** Retention GC for the versioned state: drop all but the newest
    * `keep` committed versions. Old versions exist only to make
    * replayed batches no-ops and for time travel; readers always take
    * the newest, so vacuuming never races them — the deleted dirs are
    * strictly older than anything [[upsertStateRead]] returns. The
    * batch-id naming stays monotonic across vacuums, so idempotence
    * is preserved for any batch id at or below the retained window.
    * Returns the number of versions removed. */
  def upsertVacuum(stateDir: String, keep: Int): Int = {
    require(keep >= 1, s"must keep at least 1 version, got $keep")
    val stale = versionDirs(stateDir).dropRight(keep)
    stale.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    stale.size
  }

  /** st17 — transactional upsert SINK via `foreachBatch`: each
    * micro-batch's latest-wins delta merges into a versioned parquet
    * state table. Exactly-once comes from idempotence, the standard
    * foreachBatch discipline: the committed version is named by the
    * batch id (write to a temp dir, atomic rename), so a REPLAYED
    * batch — restart, checkpoint loss, speculative re-run — sees its
    * version already committed and becomes a no-op. The merge itself
    * (`max(struct)` over current ∪ delta) is also algebraically
    * idempotent, a second safety net.
    *
    * Scale shape: per batch, O(|delta| + |state|) — one partial-agg
    * shuffle for the delta compaction and one merge agg; at 100 TB
    * the state table would be bucketed on (user_id, event_type), so
    * the merge co-partitions without re-shuffling the state side.
    *
    * Starts the [[Replay]] of the staged events under `src`,
    * `filesPerTrigger` files per micro-batch; the caller waits on the
    * returned query. */
  def upsertSink(s: SparkSession, src: String, stateDir: String,
      checkpointDir: String, filesPerTrigger: Int)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val doBatch: (DataFrame, Long) => Unit =
      (batch, batchId) => {
        val vdir = new java.io.File(stateDir, f"v$batchId%09d")
        if (!vdir.exists()) { // replayed batch: already committed, skip
          val delta = compactLatest(batch)
          val merged = upsertStateRead(batch.sparkSession, stateDir) match {
            case Some(cur) => cur.unionByName(delta)
              .groupBy("user_id", "event_type")
              .agg(max(col("latest")).as("latest"))
            case None => delta
          }
          val tmp = new java.io.File(stateDir, s".tmp_$batchId")
          merged.write.mode("overwrite").parquet(tmp.getAbsolutePath)
          if (!tmp.renameTo(vdir)) { // lost a commit race: roll back
            org.apache.commons.io.FileUtils.deleteDirectory(tmp)
          }
        }
      }
    Replay.start(s, EventsSchema, src, checkpointDir,
      Replay.ForEachBatch(doBatch), filesPerTrigger)
  }

  // ------------- streaming near-dup dedup (LSH bucket state) -------------

  /** A document's membership row in one LSH band bucket: the stream
    * key is (band, bh); `sig` rides along so the matcher can estimate
    * Jaccard against stored signatures without any side lookup.
    * `op` is "I" (ingest) or "D" (tombstone — the right-to-erasure
    * event, banded exactly like an insert so it reaches precisely the
    * buckets that hold the doc; the purge request carries the doc
    * payload, which is how the bands are known — a payload-less purge
    * would need an id→buckets sidecar, the s24 idmap pattern). */
  case class BandedDoc(doc_id: Long, band: Int, bh: Int,
      sig: Array[Long], op: String)

  /** One emitted candidate: an unordered doc pair sharing a band
    * bucket, with the signature-estimated Jaccard (|equal positions| /
    * k — the same arithmetic as the batch d02 plan). */
  case class CandPair(a: Long, b: Long, est_jaccard: Double)

  /** Packed binary layout for one stored (doc_id, signature) bucket
    * entry — the [[graft.expr.GkSketch]] `GkStateCodec` discipline
    * applied to the LSH dedup state: a version-checked header followed
    * by flat longs, written through `Encoders.BINARY`. The state store
    * IS the continuous dedup index at 100 TB/day, so its encoding is
    * the product. Three wins over the `Encoders.javaSerialization`
    * tuple layout this state shipped with in round 11, in honest
    * order: (1) FORMAT STABILITY — Java serialization couples
    * checkpoint bytes to the JVM/Scala serialVersionUID lattice, so a
    * runtime upgrade can invalidate the whole index, while this
    * layout survives any JVM; (2) per-value CPU — one ByteBuffer pass
    * instead of an ObjectOutputStream allocating and emitting class
    * descriptors per stored element; (3) bytes — 13 + 8k per entry
    * (269 at k=32) vs 283 for the java-serialized long[32] alone
    * before the tuple's extra row field (~10-15% measured, pinned in
    * Round12Spec — a modest win; stability is the reason to switch).
    * A version mismatch rejects LOUDLY — the state-schema-evolution
    * contract; there is deliberately no silent migration path. */
  private[graft] object SigEntryCodec {
    private[streaming] val Version: Byte = 1

    def encode(id: Long, sig: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(1 + 8 + 4 + 8 * sig.length)
      bb.put(Version).putLong(id).putInt(sig.length)
      var i = 0
      while (i < sig.length) { bb.putLong(sig(i)); i += 1 }
      bb.array()
    }

    def decode(bytes: Array[Byte]): (Long, Array[Long]) = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val v = bb.get()
      require(v == Version,
        s"lsh bucket state version $v, expected $Version — " +
          "rebuild the dedup index (no silent state migration)")
      val id = bb.getLong()
      val n = bb.getInt()
      require(n >= 0 && bytes.length == 13 + 8 * n,
        s"lsh bucket state: corrupt entry (k=$n, ${bytes.length} bytes)")
      val sig = new Array[Long](n)
      var i = 0
      while (i < n) { sig(i) = bb.getLong(); i += 1 }
      (id, sig)
    }
  }

  /** Continuous MinHash-LSH dedup — the batch d02 candidate join run
    * AS A STREAM: the per-bucket signature lists that the batch plan
    * materializes as one big self-join live here as keyed RocksDB
    * ListState, and every arriving document is matched against (then
    * appended to) its bucket's list. Emits ALL same-bucket pairs with
    * their estimated Jaccard; threshold filtering and cross-band pair
    * dedup happen on the committed sink (order-independent, exactly
    * like the batch plan's dropDuplicates + filter) — so the final
    * pair SET is replay-slicing-independent by construction.
    *
    * State discipline at 100 TB/day: the state IS the index — one
    * (id, k-long signature) entry per doc per band, exactly the
    * signature table the batch job persists, sharded by the state
    * store across partitions. Per-KEY lists stay small because that
    * is LSH's job (a bucket that grows unboundedly means the band
    * scheme is mis-sized, and the quadratic in-bucket emit cost makes
    * that visible immediately — the same guard the batch exactReps
    * staging provides against planted exact copies). No TTL: corpus
    * dedup state is permanent by definition; a production deployment
    * ages it by re-sharding epochs, not by watermark. */
  class LshBucketMatcher
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Int), BandedDoc, CandPair] {
    @transient private var docs:
      org.apache.spark.sql.streaming.ListState[Array[Byte]] = _

    // value codec: packed binary via [[SigEntryCodec]] (version-checked
    // header + flat longs) under Encoders.BINARY — stable bytes across
    // JVM/Scala/Spark upgrades, cheaper per value, ~10-15% smaller
    // than the Java-serialization tuple this state shipped with in
    // round 11 (a checkpoint written by that codec is structurally
    // incompatible and is rejected by the state schema check on
    // restart — pinned in Round12Spec; corpus state migrates by
    // re-sharding epochs, the handoff st31 demonstrates, never by
    // silent in-place decode)
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      docs = getHandle.getListState[Array[Byte]]("docs",
        org.apache.spark.sql.Encoders.BINARY,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def estJaccard(x: Array[Long], y: Array[Long]): Double = {
      var eq = 0
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) { if (x(i) == y(i)) eq += 1; i += 1 }
      eq.toDouble / math.max(x.length, 1)
    }

    override def handleInputRows(key: (Int, Int),
        rows: Iterator[BandedDoc],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CandPair] = {
      val stored = scala.collection.mutable.ArrayBuffer[
        (Long, Array[Long])]()
      val it = docs.get()
      while (it.hasNext) stored += SigEntryCodec.decode(it.next())
      val out = scala.collection.mutable.ArrayBuffer[CandPair]()
      // in-batch arrival order pinned by (doc_id, op) with inserts
      // before tombstones — DELETE WINS within a batch, the only
      // convention compatible with the erasure contract (a doc_id
      // that is both inserted and tombstoned in one batch must not
      // survive, regardless of shuffle arrival order; sorting by
      // doc_id alone left the tie nondeterministic). Emitted pairs
      // are unordered (min, max) so the SET is order-independent.
      rows.toSeq.sortBy(d =>
        (d.doc_id, if (d.op == "D") 1 else 0)).foreach { d =>
        if (d.op == "D") {
          // tombstone: forget this id's entry. ListState has no
          // point-delete, so rewrite the (small — that's LSH's job)
          // list without it; an id not present is a no-op, which
          // makes a replayed tombstone batch idempotent. Pairs this
          // doc emitted BEFORE the purge are sink history; the state
          // purge guarantees it can never appear in a FUTURE pair —
          // the erasure contract an index owes (st39 pins it).
          val n0 = stored.length
          val kept = stored.filterNot(_._1 == d.doc_id)
          if (kept.length != n0) {
            stored.clear()
            stored ++= kept
            docs.clear()
            kept.foreach { case (id, sg) =>
              docs.appendValue(SigEntryCodec.encode(id, sg))
            }
          }
        } else {
          stored.foreach { case (pid, psig) =>
            if (pid != d.doc_id)
              out += CandPair(math.min(pid, d.doc_id),
                math.max(pid, d.doc_id), estJaccard(psig, d.sig))
          }
          stored += ((d.doc_id, d.sig))
          docs.appendValue(SigEntryCodec.encode(d.doc_id, d.sig))
        }
      }
      out.iterator
    }
  }

  /** Streamed LSH candidate generation over banded doc rows. */
  def lshDedupStream(banded: Dataset[BandedDoc]): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    banded.groupByKey(d => (d.band, d.bh))
      .transformWithState(new LshBucketMatcher,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }
}
