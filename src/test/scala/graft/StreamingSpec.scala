package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStreams

/** Structured Streaming semantics: batch/stream equivalence of the
  * windowed aggregation, stateful sessionization, and source/sink
  * roundtrips (reference delegates sinks to pandas to_csv —
  * README.md:79-81 — our analog is df.write). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("windowed agg: streaming over events parquet == batch result") {
    val batchEvents = graft.queries.Streaming.events(spark, sfDir)
    val batch = EventStreams.windowedAgg(batchEvents,
      "1 hour", "1 hour", "10 minutes")
      .orderBy("w_start", "event_type").collect()

    // the driver's events table uses nanosecond timestamps, which the
    // streaming parquet source rejects — rewrite at micros for the test
    val microsDir = java.nio.file.Files.createTempDirectory("events-us")
    batchEvents.write.mode("overwrite").parquet(s"$microsDir/events")
    val stream = spark.readStream
      .schema(EventStreams.EventsSchema)
      .parquet(s"$microsDir/events")
    val q = EventStreams.windowedAgg(stream, "1 hour", "1 hour",
      "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out")
      .orderBy("w_start", "event_type").collect()
    assert(streamed.sameElements(batch),
      s"stream(${streamed.length}) != batch(${batch.length})")
  }

  test("chained rollup: TWO stateful window aggregations in one " +
    "streaming query == batch, emission gated on the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("rollup")
    val batchEvents = graft.queries.Streaming.events(spark, sfDir)
    batchEvents.write.mode("overwrite").parquet(s"$dir/events")
    val batch = EventStreams.chainedRollup(
        spark.read.parquet(s"$dir/events"), "10 minutes")
      .orderBy("w_start", "event_type").collect()
    assert(batch.nonEmpty)

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/events").schema)
      .parquet(s"$dir/events")
    // append mode is REQUIRED for chained stateful aggregations: the
    // hour rows only emit once the watermark passes the hour end
    val q = EventStreams.chainedRollup(stream, "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("rollup_out").start()
    q.processAllAvailable()
    // nothing can have emitted for the LAST hour yet; most earlier
    // hours are already closed by the data's own watermark progress
    def rows() = spark.table("rollup_out").collect()
      .filter(_.getString(1) != "zz_sentinel")
    assert(rows().length < batch.length)

    // a sentinel 4 hours past the max event closes every real window;
    // written as a separate FILE (a later micro-batch) — and filtered
    // at ASSERTION time, never in the streaming plan, where Catalyst
    // would push the filter below the watermark operator and prune the
    // watermark-advancing row itself
    val maxTs = batchEvents.agg(max("ts")).head.getTimestamp(0)
    spark.read.parquet(s"$dir/events").limit(1)
      .withColumn("ts",
        lit(new java.sql.Timestamp(maxTs.getTime + 4L * 3600 * 1000)))
      .withColumn("event_type", lit("zz_sentinel"))
      .coalesce(1).write.mode("append").parquet(s"$dir/events")
    q.processAllAvailable()
    // the final flush rides the no-data state-cleanup batch AFTER the
    // sentinel batch advanced the watermark — poll, don't assume
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (rows().length < batch.length && System.nanoTime() < deadline)
      Thread.sleep(200)
    q.stop()
    val streamed = spark.table("rollup_out")
      .filter(col("event_type") =!= "zz_sentinel")
      .orderBy("w_start", "event_type").collect()
    assert(streamed.sameElements(batch),
      s"stream(${streamed.length}) != batch(${batch.length})")
  }

  test("native session_window: streaming == batch, and the exact-gap " +
    "boundary MERGES — same rule as the lag formulation") {
    val ts = (ms: Long) => new java.sql.Timestamp(ms)
    val gapMs = 30L * 60000
    val events = Seq(
      EventStreams.Event(1, ts(0), 7L, "click", 1.0),
      EventStreams.Event(2, ts(gapMs - 1), 7L, "view", 2.0), // merges
      EventStreams.Event(3, ts(2 * gapMs - 1 + gapMs), 7L, "click", 4.0),
      // EXACTLY gap after event 3: windows TOUCH (start == prev end)
      // and session_window merges them — identical to the lag
      // formulation's strict `> gap` split rule; gap+1 would split
      EventStreams.Event(4, ts(2 * gapMs - 1 + 2 * gapMs), 7L, "buy", 8.0),
      // one ms past the gap: this DOES split in both formulations
      EventStreams.Event(5, ts(2 * gapMs - 1 + 3 * gapMs + 1), 7L,
        "view", 16.0))
      .toDS().toDF()
    val batch = EventStreams.sessionWindowAgg(events, "30 minutes",
      "10 minutes").orderBy("session_start").collect()
    assert(batch.length == 3) // {1,2}, {3,4}, {5}
    assert(batch.map(_.getLong(2)).toSeq == Seq(2L, 2L, 1L))
    val lagForm = EventStreams.sessionizeBatch(events, 30).collect()
    assert(lagForm.length == 3, "lag formulation agrees on both " +
      "boundaries: == gap merges, gap+1ms splits")

    val dir = java.nio.file.Files.createTempDirectory("sesswin")
    events.coalesce(1).write.parquet(s"$dir/events")
    val stream = spark.readStream
      .schema(events.schema).parquet(s"$dir/events")
    val q = EventStreams.sessionWindowAgg(stream, "30 minutes",
        "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sesswin_out").start()
    q.processAllAvailable()
    // sentinel file advances the watermark past every session end
    Seq(EventStreams.Event(99, ts(10 * gapMs), 999L, "zz", 0.0))
      .toDS().toDF().coalesce(1).write.mode("append")
      .parquet(s"$dir/events")
    q.processAllAvailable()
    def rows() = spark.table("sesswin_out").collect()
      .filter(_.getLong(0) != 999L)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (rows().length < batch.length && System.nanoTime() < deadline)
      Thread.sleep(200)
    q.stop()
    val streamed = spark.table("sesswin_out")
      .filter(col("user_id") =!= 999L)
      .orderBy("session_start").collect()
    assert(streamed.sameElements(batch),
      s"stream(${streamed.length}) != batch(${batch.length})")
  }

  test("stateful sessionization: gap splits sessions, totals correct") {
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val events = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(10), 7L, "view", 2.0),
      EventStreams.Event(3, ts(100), 7L, "click", 4.0), // new session
      EventStreams.Event(4, ts(5), 9L, "click", 8.0)).toDS()

    // batch formulation on the same data
    val sessions = EventStreams.sessionizeBatch(events.toDF(), 30)
      .orderBy("user_id", "session_start").collect()
    assert(sessions.length == 3)
    assert(sessions(0).getLong(0) == 7L && sessions(0).getLong(3) == 2)
    assert(sessions(0).getDouble(4) == 3.0)
    assert(sessions(1).getLong(0) == 7L && sessions(1).getDouble(4) == 4.0)
    assert(sessions(2).getLong(0) == 9L && sessions(2).getDouble(4) == 8.0)
  }

  test("streaming sessionization emits closed sessions") {
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    // two sessions worth of events for user 7; nothing at t=0 — a row
    // AT the initial watermark (0) would be dropped as late
    Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(10), 7L, "view", 2.0),
      EventStreams.Event(3, ts(100), 7L, "click", 4.0)).toDS()
      .write.parquet(s"$dir/batch1")

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
        .schema)
      .parquet(s"$dir/batch1")
      .withWatermark("ts", "30 minutes")
      .as[EventStreams.Event]
    val q = EventStreams.sessionizeStream(stream, 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    // the first session (events at t=0,10) is closed by the t=100 event
    val got = spark.table("sess_out").collect()
    assert(got.length == 1, got.mkString(","))
    assert(got(0).getLong(0) == 7L && got(0).getLong(2) == 2L &&
      got(0).getDouble(3) == 3.0)
  }

  test("streaming sessionization: event-time timeout closes idle " +
    "sessions across batches") {
    val dir = java.nio.file.Files.createTempDirectory("events-timeout")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
    // batch 1: one open session for user 7
    Seq(EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(10), 7L, "view", 2.0)).toDS()
      .coalesce(1).write.mode("append").parquet(dir.toString)

    val stream = spark.readStream.schema(enc.schema).parquet(dir.toString)
      .withWatermark("ts", "30 minutes")
      .as[EventStreams.Event]
    val q = EventStreams.sessionizeStream(stream, 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sess_timeout_out").isEmpty) // still open
      // batch 2: a different user far in the future advances the
      // watermark past user 7's gap timeout
      Seq(EventStreams.Event(3, ts(500), 9L, "click", 8.0)).toDS()
        .coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      // one more empty-ish trigger lets the timeout fire if needed
      q.processAllAvailable()
      val got = spark.table("sess_timeout_out").collect()
      assert(got.exists(r => r.getLong(0) == 7L && r.getLong(2) == 2L &&
        r.getDouble(3) == 3.0), got.mkString(","))
    } finally q.stop()
  }

  test("streaming dedup: dropDuplicatesWithinWatermark drops replayed " +
    "events across batches") {
    val dir = java.nio.file.Files.createTempDirectory("events-dedup")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
    Seq(EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(2), 7L, "view", 2.0)).toDS()
      .coalesce(1).write.mode("append").parquet(dir.toString)

    val stream = spark.readStream.schema(enc.schema).parquet(dir.toString)
    val q = EventStreams.dedupEvents(stream, "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
      // batch 2 replays event 2 (inside the watermark) + adds event 3
      Seq(EventStreams.Event(2, ts(2), 7L, "view", 2.0),
        EventStreams.Event(3, ts(3), 7L, "click", 3.0)).toDS()
        .coalesce(1).write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
      assert(got.length == 3, got.mkString(",")) // replay dropped
      assert(got.map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("stream-stream interval join: attribution stream == batch, " +
    "state bounded by watermark + range condition") {
    val dir = java.nio.file.Files.createTempDirectory("attr-stream")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val clicks = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(20), 7L, "click", 2.0),
      EventStreams.Event(3, ts(90), 7L, "click", 4.0), // outside window
      EventStreams.Event(4, ts(25), 9L, "click", 8.0)).toDS().toDF()
    val purchases = Seq(
      EventStreams.Event(10, ts(30), 7L, "purchase", 50.0),
      EventStreams.Event(11, ts(200), 7L, "purchase", 60.0),
      EventStreams.Event(12, ts(26), 9L, "purchase", 70.0)).toDS().toDF()
    clicks.coalesce(1).write.parquet(s"$dir/clicks")
    purchases.coalesce(1).write.parquet(s"$dir/purchases")

    val batch = EventStreams.attributionJoin(clicks, purchases, 30,
      "10 minutes").select("purchase_id", "c_ts", "c_value")
      .orderBy("purchase_id", "c_ts").collect()
    // purchase 10 attributes clicks 1+2 (click 3 is later, outside);
    // purchase 11 nothing (inner join drops it); purchase 12 click 4
    assert(batch.map(_.getLong(0)).toSeq == Seq(10L, 10L, 12L))

    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
    val cStream = spark.readStream.schema(enc.schema)
      .parquet(s"$dir/clicks")
    val pStream = spark.readStream.schema(enc.schema)
      .parquet(s"$dir/purchases")
    val q = EventStreams.attributionJoin(cStream, pStream, 30,
      "10 minutes").select("purchase_id", "c_ts", "c_value")
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_out")
      .orderBy("purchase_id", "c_ts").collect()
    assert(streamed.sameElements(batch),
      s"stream(${streamed.mkString(",")}) != batch(${batch.mkString(",")})")
  }

  test("stream-stream LEFT OUTER join: click-less purchases emit " +
    "null-padded once the watermark proves no match can arrive; " +
    "stream == batch") {
    val dir = java.nio.file.Files.createTempDirectory("attr-outer")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val clicks = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(20), 7L, "click", 2.0),
      EventStreams.Event(4, ts(25), 9L, "click", 8.0)).toDS().toDF()
    val purchases = Seq(
      EventStreams.Event(10, ts(30), 7L, "purchase", 50.0),
      EventStreams.Event(11, ts(200), 7L, "purchase", 60.0), // no click
      EventStreams.Event(12, ts(26), 9L, "purchase", 70.0)).toDS().toDF()
    // sentinels by a user with no counterpart, in SEPARATE files and
    // on BOTH streams: the global watermark is the MIN over all
    // event-time columns, so the click sentinels alone would leave the
    // purchase-side watermark at 190 (< purchase 11's 200) and the
    // null-padded row would sit in join state forever — exactly the
    // semantics this test pins down. Sentinels are filtered out of
    // the compared output.
    val s1 = Seq(EventStreams.Event(90, ts(400), 999L, "click", 0.0))
      .toDS().toDF()
    val ps1 = Seq(EventStreams.Event(95, ts(400), 999L, "purchase", 0.0))
      .toDS().toDF()
    clicks.coalesce(1).write.parquet(s"$dir/clicks")
    purchases.coalesce(1).write.parquet(s"$dir/purchases")

    // NB: the sentinel filter must NOT ride into the streaming plan —
    // Catalyst pushes `p_user != 999` (and the inferred
    // `c_user != 999`) below the watermark operators into both scans,
    // pruning the sentinel rows before they can advance the watermark;
    // sentinels are excluded at ASSERTION time instead
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select("purchase_id", "p_user", "c_ts", "c_value")
    def noSentinels(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getLong(1) != 999L)
    val batch = noSentinels(proj(EventStreams.attributionOuterJoin(
        spark.read.parquet(s"$dir/clicks"),
        spark.read.parquet(s"$dir/purchases"), 30, "10 minutes"))
      .orderBy("purchase_id", "c_ts").collect())
    // purchase 10 -> clicks 1+2; purchase 11 -> NULL row; 12 -> click 4
    assert(batch.map(_.getLong(0)).toSeq == Seq(10L, 10L, 11L, 12L))
    assert(batch(2).isNullAt(2) && batch(2).isNullAt(3))

    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
    val cStream = spark.readStream.schema(enc.schema)
      .parquet(s"$dir/clicks")
    val pStream = spark.readStream.schema(enc.schema)
      .parquet(s"$dir/purchases")
    // default trigger, not AvailableNow: the null-padded row is
    // emitted by the state-cleanup (no-data) micro-batch that runs
    // AFTER a later data batch advanced the watermark — AvailableNow
    // terminates before it, which is itself part of the semantics
    // this test documents
    val q = proj(EventStreams.attributionOuterJoin(cStream, pStream,
        30, "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_outer_out").start()
    q.processAllAvailable()
    // inner matches emit eagerly; the unmatched purchase 11 is still
    // held in state because no match can be RULED OUT yet — this is
    // where stream and batch semantics visibly differ mid-stream
    def streamedRows() = noSentinels(
      spark.table("attr_outer_out").collect())
    assert(streamedRows().length == batch.length - 1)
    // second micro-batch: sentinels advance BOTH watermarks past every
    // purchase (the global watermark is the MIN over all event-time
    // columns, so a click-only sentinel would leave the purchase-side
    // watermark behind and the null row in state forever)
    s1.coalesce(1).write.mode("append").parquet(s"$dir/clicks")
    ps1.coalesce(1).write.mode("append").parquet(s"$dir/purchases")
    q.processAllAvailable()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (streamedRows().length < batch.length &&
        System.nanoTime() < deadline) {
      Thread.sleep(200)
    }
    q.stop()
    val streamed = noSentinels(spark.table("attr_outer_out")
      .orderBy("purchase_id", "c_ts").collect())
    assert(streamed.sameElements(batch),
      s"stream(${streamed.mkString(",")}) != batch(${batch.mkString(",")})")
  }

  test("transformWithState (arbitrary-state v2 API): spend alerts " +
    "from the RocksDB-backed processor == batch twin, with state " +
    "carried across batch slicings") {
    val dir = java.nio.file.Files.createTempDirectory("spend-stream")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    // user 7 crosses 100 at event 2 (cum 120) and 200 at event 4
    // (cum 210); user 9 crosses only once; the file split puts the
    // second crossing in a LATER micro-batch, so the 120-micro state
    // must survive the batch boundary for event 4's alert to fire
    val f1 = Seq(
      EventStreams.Event(1, ts(1), 7L, "purchase", 60.0),
      EventStreams.Event(2, ts(2), 7L, "purchase", 60.0),
      EventStreams.Event(3, ts(3), 9L, "purchase", 150.0),
      EventStreams.Event(90, ts(4), 9L, "click", 999.0), // not spend
      EventStreams.Event(91, ts(5), 7L, "purchase", -5.0)) // filtered
    val f2 = Seq(
      EventStreams.Event(4, ts(10), 7L, "purchase", 90.0),
      EventStreams.Event(5, ts(11), 9L, "purchase", 30.0))
    f1.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")

    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      val q = EventStreams.spendAlertsStream(
          spark.readStream.schema(enc.schema).parquet(s"$dir/in")
            .as[EventStreams.Event],
          thresholdMicros = 100000000L)
        .writeStream.outputMode("append")
        .format("memory").queryName("spend_out").start()
      q.processAllAvailable()
      assert(spark.table("spend_out").count() == 2) // events 2 and 3
      f2.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("spend_out")
        .orderBy("user_id", "event_id").collect()
      val batch = EventStreams.spendAlertsBatch(
          spark.read.parquet(s"$dir/in"), 100000000L)
        .orderBy("user_id", "event_id").collect()
      assert(batch.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((7L, 2L), (7L, 4L), (9L, 3L)))
      assert(streamed.sameElements(batch),
        s"stream(${streamed.mkString(",")}) != batch(${batch.mkString(",")})")
    }
  }

  test("transformWithState ListState: rolling baskets == batch twin, " +
    "trimmed list state carried across batch slicings") {
    val dir = java.nio.file.Files.createTempDirectory("basket-stream")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    // user 7 makes 4 purchases split across two batches: event 4's
    // basket must contain events 2-4 (state trimmed to 3, carried over)
    val f1 = Seq(
      EventStreams.Event(1, ts(1), 7L, "purchase", 10.0),
      EventStreams.Event(2, ts(2), 7L, "purchase", 20.0),
      EventStreams.Event(3, ts(3), 7L, "purchase", 30.0),
      EventStreams.Event(50, ts(4), 9L, "purchase", 5.0))
    val f2 = Seq(
      EventStreams.Event(4, ts(10), 7L, "purchase", 40.0),
      EventStreams.Event(51, ts(11), 9L, "purchase", 6.0))
    f1.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")

    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      val q = EventStreams.recentBasketStream(
          spark.readStream.schema(enc.schema).parquet(s"$dir/in")
            .as[EventStreams.Event], n = 3)
        .writeStream.outputMode("append")
        .format("memory").queryName("basket_out").start()
      q.processAllAvailable()
      f2.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("basket_out")
        .orderBy("user_id", "event_id").collect()
      val batch = EventStreams.recentBasketBatch(
          spark.read.parquet(s"$dir/in"), 3)
        .orderBy("user_id", "event_id").collect()
      val e4 = streamed.find(r => r.getLong(1) == 4L).get
      assert(e4.getString(2) == "20000000-30000000-40000000",
        s"event 4 basket: ${e4.getString(2)}")
      assert(streamed.sameElements(batch),
        s"stream(${streamed.mkString(",")}) != batch(${batch.mkString(",")})")
    }
  }

  test("transformWithState event-time timers: idle alerts pushed when " +
    "the watermark passes an un-slid timer == batch twin under " +
    "event-time-ordered slicing") {
    val dir = java.nio.file.Files.createTempDirectory("idle-stream")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    // user 7: events at 1 and 2, silent until 100 (mid-stream gap),
    // then silent forever (trailing). user 9: active at 1, 20, 40 —
    // never idle mid-stream, but idle at the end. sentinel user 999's
    // far-future events advance the watermark so every timer fires.
    val f1 = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(2), 7L, "click", 1.0),
      EventStreams.Event(3, ts(1), 9L, "click", 1.0),
      EventStreams.Event(4, ts(20), 9L, "click", 1.0))
    // sentinel at 45 pushes the watermark to 35 > user 7's timer (32)
    // BEFORE 7's return at 100 arrives — if the return rode the same
    // batch it would slide the timer and the mid-stream alert could
    // never fire (exactly the ordering dependence this test pins down)
    val f2 = Seq(EventStreams.Event(90, ts(45), 999L, "click", 0.0))
    val f3 = Seq(
      EventStreams.Event(5, ts(100), 7L, "click", 1.0),
      EventStreams.Event(6, ts(40), 9L, "click", 1.0))
    val f4 = Seq(EventStreams.Event(91, ts(500), 999L, "click", 0.0))
    f1.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")

    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      val q = EventStreams.idleStream(
          spark.readStream.schema(enc.schema).parquet(s"$dir/in")
            .as[EventStreams.Event],
          gapMinutes = 30, watermark = "10 minutes")
        .writeStream.outputMode("append")
        .format("memory").queryName("idle_out").start()
      q.processAllAvailable()
      // event-time-ordered slices: each batch's events precede the
      // next batch's, so timers fire exactly where the batch twin
      // sees gaps
      Seq(f2, f3, f4).foreach { f =>
        f.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
        q.processAllAvailable()
      }
      q.stop()

      val streamed = spark.table("idle_out")
        .filter(col("user_id") =!= 999L)
        .orderBy("user_id", "last_seen_us").collect()
      val batch = EventStreams.idleBatch(
          spark.read.parquet(s"$dir/in"), 30, 10)
        .filter(col("user_id") =!= 999L)
        .orderBy("user_id", "last_seen_us").collect()
      // user 7: mid-stream gap after ts 2 + trailing after ts 100;
      // user 9: trailing after ts 40
      assert(batch.map(r => (r.getLong(0), r.getLong(1) / 60000000L))
        .toSeq == Seq((7L, 2L), (7L, 100L), (9L, 40L)))
      assert(streamed.sameElements(batch),
        s"stream(${streamed.mkString(",")}) != batch(${batch.mkString(",")})")
    }
  }

  test("idle detector slicing invariance: intra-batch gaps, " +
    "slid-timer gaps, and timer-pre-fired gaps all emit the batch " +
    "twin's alert set under coarse AND fine slicing") {
    // user 7: gap 2->100 (mid) + trailing after 101
    // user 8: gap 5->50 (mid) + trailing after 50
    // user 9: no mid gap, trailing after 20
    // sentinel 999 at 500 drives the final watermark to 490
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val body = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(2), 7L, "click", 1.0),
      EventStreams.Event(3, ts(100), 7L, "click", 1.0),
      EventStreams.Event(4, ts(101), 7L, "click", 1.0),
      EventStreams.Event(5, ts(5), 8L, "click", 1.0),
      EventStreams.Event(6, ts(50), 8L, "click", 1.0),
      EventStreams.Event(7, ts(10), 9L, "click", 1.0),
      EventStreams.Event(8, ts(20), 9L, "click", 1.0))
    val sentinelMid = EventStreams.Event(90, ts(45), 999L, "click", 0.0)
    val sentinelEnd = EventStreams.Event(91, ts(500), 999L, "click", 0.0)
    // coarse: every body event in ONE batch (user 7/8's mid-stream
    // gaps are INTRA-batch — input-row detection must emit them);
    // fine: the sentinel@45 advances the watermark past user 7's
    // first timer BEFORE the return at 100 arrives (timer pre-fires
    // the gap; the alerted flag must dedup the input-row path)
    val slicings = Seq(
      Seq(body, Seq(sentinelEnd)),
      Seq(body.filter(_.ts.getTime <= 20 * 60000L), Seq(sentinelMid),
        body.filter(_.ts.getTime > 20 * 60000L), Seq(sentinelEnd)))

    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val outs = slicings.zipWithIndex.map { case (slices, i) =>
        val dir = java.nio.file.Files.createTempDirectory(s"idle-slc$i")
        val enc =
          implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
        slices.head.toDS().coalesce(1).write.mode("append")
          .parquet(s"$dir/in")
        val q = EventStreams.idleStream(
            spark.readStream.schema(enc.schema).parquet(s"$dir/in")
              .as[EventStreams.Event],
            gapMinutes = 30, watermark = "10 minutes")
          .writeStream.outputMode("append")
          .format("memory").queryName(s"idle_slc$i").start()
        q.processAllAvailable()
        slices.tail.foreach { f =>
          f.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
          q.processAllAvailable()
        }
        q.stop()
        spark.table(s"idle_slc$i").filter(col("user_id") =!= 999L)
          .orderBy("user_id", "last_seen_us").collect().toSeq
      }
      val batch = EventStreams.idleBatch(
          (body :+ sentinelEnd :+ sentinelMid).toDS().toDF(), 30, 10)
        .filter(col("user_id") =!= 999L)
        .orderBy("user_id", "last_seen_us").collect().toSeq
      assert(batch.map(r => (r.getLong(0), r.getLong(1) / 60000000L)) ==
        Seq((7L, 2L), (7L, 101L), (8L, 5L), (8L, 50L), (9L, 20L)))
      assert(outs(0) == batch,
        s"coarse(${outs(0).mkString(",")}) != batch(${batch.mkString(",")})")
      assert(outs(1) == batch,
        s"fine(${outs(1).mkString(",")}) != batch(${batch.mkString(",")})")
    }
  }

  test("idle detector ms-quantization contract: watermark floors " +
    "micros->ms, a timer fires iff timer_ms <= wm_ms, and alert " +
    "values keep exact micros (the st24 oracle's trailing predicate)") {
    def tsUs(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    // sentinel max event = 3000s exactly -> final wm_ms = 2_400_000.
    // user 1 last at 600_000_000us: timer_ms = 2_400_000 == wm -> fires
    // user 3 last at 600_000_999us: ms-FLOORS to the same timer ->
    //   fires, and the alert must carry the exact 999us tail
    // user 2 last at 600_001_000us: timer_ms = 2_400_001 > wm -> silent
    val f1 = Seq(
      EventStreams.Event(1, tsUs(600000000L), 1L, "click", 1.0),
      EventStreams.Event(2, tsUs(600001000L), 2L, "click", 1.0),
      EventStreams.Event(3, tsUs(600000999L), 3L, "click", 1.0))
    val f2 = Seq(EventStreams.Event(9, tsUs(3000000000L), 999L, "click", 0.0))
    val dir = java.nio.file.Files.createTempDirectory("idle-quant")
    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      f1.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
      val q = EventStreams.idleStream(
          spark.readStream.schema(enc.schema).parquet(s"$dir/in")
            .as[EventStreams.Event],
          gapMinutes = 30, watermark = "10 minutes")
        .writeStream.outputMode("append")
        .format("memory").queryName("idle_quant").start()
      q.processAllAvailable()
      f2.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      q.stop()
      val got = spark.table("idle_quant").filter(col("user_id") =!= 999L)
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(
        (1L, 600000000L, 600000000L + 1800000000L),
        (3L, 600000999L, 600000999L + 1800000000L)), got.mkString(","))
      // and this is exactly where the micros-exact batch twin DIVERGES
      // by design: it would not alert user 3 (off by 999us) — the st24
      // oracle therefore uses the ms-floored trailing predicate
      val batchUsers = EventStreams.idleBatch(
          (f1 ++ f2).toDS().toDF(), 30, 10)
        .filter(col("user_id") =!= 999L)
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(batchUsers == Seq(1L))
    }
  }

  test("transformWithState MapState: point-in-time profiles == batch " +
    "twin, per-type counts carried across batch slicings") {
    val dir = java.nio.file.Files.createTempDirectory("profile-stream")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val f1 = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(2), 7L, "view", 1.0),
      EventStreams.Event(3, ts(3), 7L, "click", 1.0),
      EventStreams.Event(4, ts(1), 9L, "signup", 1.0))
    val f2 = Seq(
      EventStreams.Event(5, ts(10), 7L, "purchase", 1.0),
      EventStreams.Event(6, ts(11), 7L, "click", 1.0),
      EventStreams.Event(7, ts(10), 9L, "error", 1.0))
    f1.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")

    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      val q = EventStreams.profileStream(
          spark.readStream.schema(enc.schema).parquet(s"$dir/in")
            .as[EventStreams.Event])
        .writeStream.outputMode("append")
        .format("memory").queryName("profile_out").start()
      q.processAllAvailable()
      f2.toDS().coalesce(1).write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("profile_out")
        .orderBy("user_id", "event_id").collect()
      val batch = EventStreams.profileBatch(
          spark.read.parquet(s"$dir/in"))
        .orderBy("user_id", "event_id").collect()
      // event 6 (user 7's 5th event, 2nd batch): 3 clicks, 1 view,
      // 1 purchase as of then — the click count crossed the batch
      // boundary through the map state
      val e6 = streamed.find(_.getLong(1) == 6L).get
      assert((e6.getLong(2), e6.getLong(3), e6.getLong(4)) == ((3L, 1L, 1L)),
        s"event 6 profile: $e6")
      assert(streamed.sameElements(batch),
        s"stream(${streamed.mkString(",")}) != batch(${batch.mkString(",")})")
    }
  }

  test("stateless text ops compose into streaming: PII scrub stream == " +
    "batch") {
    // the scrub every pipeline runs before training: being a pure
    // select, TextAnalysis.redact drops into readStream→writeStream
    // unchanged — no rewrite, no state store, scan-speed per batch
    val dir = java.nio.file.Files.createTempDirectory("pii-stream")
    val docs = spark.range(40).select(col("id").as("doc_id"), concat(
      lit("lorem ipsum "),
      when(pmod(col("id"), lit(3)) === 0,
        concat(lit("mail u"), col("id"), lit("@host.org ")))
        .otherwise(lit("")),
      when(pmod(col("id"), lit(5)) === 0, lit("call 555-0142 "))
        .otherwise(lit("")),
      when(pmod(col("id"), lit(7)) === 0, lit("at 10.0.3.77 "))
        .otherwise(lit("")),
      lit("dolor")).as("text"))
    docs.coalesce(2).write.parquet(s"$dir/docs")
    val stored = spark.read.parquet(s"$dir/docs")
    val batch = graft.queries.TextAnalysis.redact(stored)
      .orderBy("doc_id").collect()

    val stream = spark.readStream.schema(stored.schema)
      .parquet(s"$dir/docs")
    val q = graft.queries.TextAnalysis.redact(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("pii_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("pii_stream_out")
      .orderBy("doc_id").collect()
    assert(streamed.sameElements(batch),
      s"stream(${streamed.length}) != batch(${batch.length})")
    // and the scrub actually fired on the planted rows: doc 0 carries
    // all three PII kinds (0 mod n == 0), doc 1 carries none
    val r0 = streamed.find(_.getLong(0) == 0L).get
    assert(r0.getInt(1) == 1 && r0.getInt(2) == 1 && r0.getInt(3) == 1)
    assert(r0.getString(4).contains("<EMAIL>") &&
      r0.getString(4).contains("<PHONE>") &&
      r0.getString(4).contains("<IP>"))
    val r1 = streamed.find(_.getLong(0) == 1L).get
    assert(r1.getInt(1) == 0 && r1.getInt(2) == 0 && r1.getInt(3) == 0)
  }

  test("quota gate: streaming across micro-batches keeps exactly the " +
    "rows the batch twin keeps") {
    val batchEvents = graft.queries.Streaming.events(spark, sfDir)
    val keptBatch = EventStreams.quotaBatch(batchEvents, 5)
      .filter(col("kept") === 1)
      .select("event_id").as[Long].collect().toSet

    // split into two ts-ordered files so the second micro-batch never
    // falls behind the first batch's watermark
    val dir = java.nio.file.Files.createTempDirectory("events-quota")
    val median = batchEvents.selectExpr("percentile(unix_micros(ts), 0.5)")
      .collect().head.getDouble(0).toLong
    batchEvents.filter(unix_micros(col("ts")) <= median)
      .coalesce(1).write.parquet(s"$dir/f1")
    batchEvents.filter(unix_micros(col("ts")) > median)
      .coalesce(1).write.parquet(s"$dir/f2")

    val stream = spark.readStream
      .schema(EventStreams.EventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .withWatermark("ts", "10 minutes")
      .as[EventStreams.Event]
    val q = EventStreams.quotaStream(stream, 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("quota_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val keptStream = spark.table("quota_out")
      .select("event_id").as[Long].collect().toSet
    assert(keptStream == keptBatch,
      s"stream kept ${keptStream.size}, batch kept ${keptBatch.size}")
  }

  test("incremental ingestion: a checkpointed AvailableNow file stream " +
    "processes each file exactly once across runs") {
    val root = java.nio.file.Files.createTempDirectory("incr")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]

    def runOnce(): Unit = {
      val q = spark.readStream.schema(enc.schema).parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }

    Seq(EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(2), 7L, "view", 2.0)).toDS()
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    assert(spark.read.parquet(out).count() == 2)

    // run again with NO new data: the checkpoint must prevent any
    // reprocessing — this is what makes daily 100 TB ingestion
    // incremental instead of a full rescan
    runOnce()
    assert(spark.read.parquet(out).count() == 2, "reprocessed old files")

    // new file: only the delta lands, old rows are not duplicated
    Seq(EventStreams.Event(3, ts(3), 9L, "click", 4.0)).toDS()
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3)
    assert(rows.select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("sinks: csv and parquet roundtrip preserves generated data") {
    import graft.gen.Generators._
    val dir = java.nio.file.Files.createTempDirectory("sink-test")
    val df = graft.gen.ToDataFrame(spark, Seq(
      (Seq("u"), FromUniformDistribution(0, 1, 6, seed = 1)),
      (Seq("dt"), FromDatetimeRange("2000-01-01", "2001-01-01",
        "%Y-%m-%d", "d", seed = 2))), 500)
    df.write.option("header", "true").csv(s"$dir/csv")
    df.write.parquet(s"$dir/pq")
    val csvBack = spark.read.option("header", "true").csv(s"$dir/csv")
    val pqBack = spark.read.parquet(s"$dir/pq")
    assert(csvBack.count() == 500 && pqBack.count() == 500)
    val orig = df.orderBy("__row_id").select("u", "dt").collect()
    val back = csvBack.orderBy(col("__row_id").cast("long"))
      .select("u", "dt").collect()
    assert(orig.map(_.toString).sameElements(back.map(_.toString)))
  }

  test("idle detector under Trigger.AvailableNow + file sink: the " +
    "trailing no-data batch fires last-file timers (the gate's exact " +
    "shape, previously pinned only by the manual TimerProbe)") {
    // The memory-sink tests above drive with processAllAvailable; the
    // GATE (st24) runs AvailableNow into a parquet sink, where the
    // trailing alerts depend on AvailableNow running a final no-data
    // batch in which the last file's watermark fires still-pending
    // timers. Pin that platform behavior in CI: user 9's ONLY event
    // is in the final input file — its trailing alert exists iff the
    // no-data batch runs.
    val root = java.nio.file.Files.createTempDirectory("idle-an")
    val ts = (m: Long) => new java.sql.Timestamp(m * 60000L)
    val f1 = Seq(
      EventStreams.Event(1, ts(1), 7L, "click", 1.0),
      EventStreams.Event(2, ts(2), 7L, "click", 1.0))
    val f2 = Seq(
      EventStreams.Event(3, ts(600), 9L, "click", 1.0),
      EventStreams.Event(90, ts(700), 999L, "click", 0.0))
    Seq((f1, "f1"), (f2, "f2")).zipWithIndex.foreach {
      case ((rows, name), i) =>
        val stage = s"$root/stage_$name"
        rows.toDS().coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$root/in")
        dst.mkdirs()
        val f = new java.io.File(dst, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, f.toPath)
        f.setLastModified(1700000000000L + i * 60000L)
    }
    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      val q = EventStreams.idleStream(
          spark.readStream.schema(enc.schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
            .as[EventStreams.Event],
          gapMinutes = 30, watermark = "10 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.read.parquet(s"$root/out")
        .filter(col("user_id") =!= 999L)
        .orderBy("user_id", "last_seen_us")
        .collect().map(r => (r.getLong(0), r.getLong(1) / 60000000L))
      // trailing alerts for BOTH users — 9's only event arrived in
      // the final file, so its alert proves last-batch timers fire
      assert(got.toSeq == Seq((7L, 2L), (9L, 600L)),
        s"got ${got.mkString(",")}")
    }
  }

  test("event-time timers fire iff timer_ms <= floor_ms(max event " +
    "time) - delay (the comparator and ms floor st24's oracle uses)") {
    // AvailableNow into a file sink, one file per trigger. File 0
    // registers one timer per user around the final watermark; file 1
    // is a watermark driver whose max event time is 2,000,000.999 ms.
    // Flooring to ms makes the final watermark 2,000,000 - 10,000 ms;
    // rounding would make it one ms later and fire user 3 too.
    val root = java.nio.file.Files.createTempDirectory("timer-pin")
    val wm = 2000000L - 10000L
    val driverTs = new java.sql.Timestamp(2000000L)
    driverTs.setNanos(999000)
    val files = Seq(
      (1L to 3L).map(u => TimerPins.In(new java.sql.Timestamp(1000000L), u)),
      Seq(TimerPins.In(driverTs, 99L)))
    files.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$root/stage_$i"
      rows.toDS().coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$root/in")
      dst.mkdirs()
      val f = new java.io.File(dst, f"in-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, f.toPath)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    // user 1: 1 ms below the final watermark, user 2: exactly at it,
    // user 3: 1 ms above it; the driver's own timer is far above
    val timerAt = Map(1L -> (wm - 1), 2L -> wm, 3L -> (wm + 1),
      99L -> (wm + 1000000L))
    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      val q = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[TimerPins.In].schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
        .as[TimerPins.In]
        .withWatermark("ts", "10 seconds")
        .groupByKey(_.user_id)
        .transformWithState(new TimerPins.AtMs(timerAt),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val fired = spark.read.parquet(s"$root/out").as[TimerPins.Fired]
        .collect().sortBy(_.user_id).toSeq
      assert(fired === Seq(TimerPins.Fired(1L, wm - 1, wm),
        TimerPins.Fired(2L, wm, wm)))
    }
  }

  test("quota gate slicing pin: 4 checkpointed AvailableNow " +
    "micro-batches into a file sink keep exactly the batch twin's " +
    "rows (st25's gate shape)") {
    val batchEvents = graft.queries.Streaming.events(spark, sfDir)
    val keptBatch = EventStreams.quotaBatch(batchEvents, 5)
      .filter(col("kept") === 1)
      .select("event_id").as[Long].collect().toSet

    // four ts-ordered quartile files — same event-time-ordered slicing
    // contract as the gate's weekly staging, one file per micro-batch
    val root = java.nio.file.Files.createTempDirectory("quota-an")
    val qs = batchEvents
      .selectExpr("percentile(unix_micros(ts), array(0.25, 0.5, 0.75))")
      .collect().head.getSeq[Double](0).map(_.toLong)
    val bounds = (Long.MinValue +: qs) :+ Long.MaxValue
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      val stage = s"$root/stage_$i"
      batchEvents.filter(unix_micros(col("ts")) > lo &&
          unix_micros(col("ts")) <= hi)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$root/in")
      dst.mkdirs()
      val f = new java.io.File(dst, f"q$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, f.toPath)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val q = EventStreams.quotaStream(
        spark.readStream.schema(EventStreams.EventsSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
          .withWatermark("ts", "10 minutes")
          .as[EventStreams.Event], 5)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val keptStream = spark.read.parquet(s"$root/out")
      .select("event_id").as[Long].collect()
    assert(keptStream.length == keptStream.toSet.size, "duplicate emits")
    assert(keptStream.toSet == keptBatch,
      s"stream kept ${keptStream.length}, batch kept ${keptBatch.size}")
  }

  test("stream-stream interval join: inclusive boundaries, cross-batch " +
    "matches, and batch-twin equality (st26's gate shape)") {
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val root = java.nio.file.Files.createTempDirectory("ssjoin")
    val w = 30 // minutes
    // clicks arrive in batch 1, purchases in batch 2: every match is
    // CROSS-batch, so the join must prove its buffered two-sided state.
    // Click 1 sits at EXACTLY p_ts - w: the half-open window excludes
    // it BY DESIGN — with an inclusive bound this is the row the state
    // store may or may not still hold at match time (state eviction is
    // `c_ts <= watermark - w`, equality evicted; observed dropped under
    // this very slicing), so the strict bound is what makes the result
    // set slicing-independent. The spec pins the exclusion.
    val f1 = Seq(
      EventStreams.Event(1, ts(0), 7L, "click", 1.0), // exactly p_ts - w
      EventStreams.Event(2, ts(10), 7L, "click", 1.0), // inside window
      EventStreams.Event(3, ts(31), 9L, "click", 1.0)) // same-ts match
    val f2 = Seq(
      EventStreams.Event(10, ts(30), 7L, "purchase", 5.0), // ← 2 only
      EventStreams.Event(11, ts(100), 7L, "purchase", 5.0), // too late
      EventStreams.Event(12, ts(31), 9L, "purchase", 1.0)) // ← 3, gap 0
    Seq(f1, f2).zipWithIndex.foreach { case (evs, i) =>
      val stage = s"$root/stage_$i"
      evs.toDS().coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$root/in"); dst.mkdirs()
      val f = new java.io.File(dst, s"f$i.parquet")
      java.nio.file.Files.move(part.toPath, f.toPath)
      f.setLastModified(1700000000000L + i * 60000L)
    }
    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
    val q = EventStreams.attributionStream(
        spark.readStream.schema(enc.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/in").toDF(), w)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$root/out")
      .orderBy("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // half-open window: the exact-boundary click (gap == w) is
    // excluded, gap 0 (click at p_ts) is included
    assert(got == Seq((7L, 10L, 2L, 20L * 60000000L), (9L, 12L, 3L, 0L)),
      got)
    val batch = EventStreams.attributionBatch((f1 ++ f2).toDS().toDF(), w)
      .orderBy("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == batch, s"stream $got != batch $batch")
  }

  test("left-outer interval join watermark gate: null rows emit iff " +
    "p_ts is STRICTLY below the final global watermark (st27's " +
    "oracle comparator), via the AvailableNow cleanup batch") {
    def tsMs(ms: Long) = new java.sql.Timestamp(ms)
    val root = java.nio.file.Files.createTempDirectory("ssouter")
    val min = 60000L
    // click-side max = 100min → click wm = 90min; purchase-side max =
    // 200min → purchase wm = 190min; GLOBAL wm = min = 90min exactly
    val events = Seq(
      EventStreams.Event(1, tsMs(50 * min), 9L, "click", 1.0),
      EventStreams.Event(2, tsMs(60 * min), 9L, "purchase", 5.0), // match
      EventStreams.Event(3, tsMs(100 * min), 42L, "click", 1.0), // wm src
      EventStreams.Event(4, tsMs(90 * min - 1), 8L, "purchase", 1.0),
      EventStreams.Event(5, tsMs(90 * min), 7L, "purchase", 1.0), // == wm
      EventStreams.Event(6, tsMs(200 * min), 999L, "purchase", 1.0))
    events.toDS().coalesce(1).write.parquet(s"$root/in")
    val enc = implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
    val q = EventStreams.attributionOuterStream(
        spark.readStream.schema(enc.schema).parquet(s"$root/in").toDF(), 30)
      .writeStream.outputMode("append")
      .format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$root/out")
      .orderBy("user_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // user 8 (1ms BELOW the 90min watermark): null row emitted in the
    // cleanup batch; user 7 (EXACTLY at the watermark): WITHHELD —
    // the strict-< comparator st27's oracle uses, pinned here; user
    // 999 (above the watermark) withheld; matched pair (9) emits
    // normally. The global watermark is the MIN across both sides'
    // watermark operators (clicks cap it at 90min despite purchases
    // reaching 190min).
    assert(got == Seq((8L, 4L, -1L), (9L, 2L, 1L)), got)
  }

  test("checkpoint restart + state-schema evolution pin: state survives " +
    "a same-processor restart; an upgraded processor may ADD a state " +
    "variable (initialized EMPTY — history is not backfilled); changing " +
    "an existing variable's value encoder is REJECTED at restart") {
    def ts(m: Long) = new java.sql.Timestamp(m * 60000L)
    val root = java.nio.file.Files.createTempDirectory("twsrestart")
    def writeFile(events: Seq[EventStreams.Event]): Unit =
      events.toDS().coalesce(1).write.mode("append")
        .parquet(s"$root/in")

    def run(mk: => org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventStreams.Event, EventStreams.ProfileRow]): Unit = {
      val enc =
        implicitly[org.apache.spark.sql.Encoder[EventStreams.Event]]
      val q = spark.readStream.schema(enc.schema)
        .parquet(s"$root/in").as[EventStreams.Event]
        .groupByKey(_.user_id)
        .transformWithState(mk,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def outRows() = spark.read.parquet(s"$root/out")
      .orderBy("event_id")
      .select("event_id", "n_click", "n_error").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    GraftSession.withConf(spark, queries.Streaming.RocksDbProvider) {
      // run 1: two clicks for user 7 through the v1 processor
      writeFile(Seq(
        EventStreams.Event(1, ts(1), 7L, "click", 1.0),
        EventStreams.Event(2, ts(2), 7L, "click", 1.0)))
      run(new EventStreams.ProfileBuilder)
      assert(outRows() == Seq((1L, 1L, 0L), (2L, 2L, 0L)))

      // run 2: SAME processor restarted from the checkpoint — the file
      // source log skips f1, and the MapState continues from count 2:
      // what a plain rolling restart preserves
      writeFile(Seq(EventStreams.Event(3, ts(3), 7L, "click", 1.0)))
      run(new EventStreams.ProfileBuilder)
      assert(outRows().lastOption.contains((3L, 3L, 0L)),
        s"state lost across same-processor restart: ${outRows()}")

      // run 3: UPGRADED processor — v2 keeps the 'profile' MapState
      // (same name + encoders) and ADDS a ValueState. The platform
      // accepts new state variables at restart; the old map carries
      // its history forward, the new variable starts EMPTY (count 1,
      // not 4, on the observation channel) — an upgrade adds a blank
      // column, it does not backfill
      writeFile(Seq(EventStreams.Event(4, ts(4), 7L, "click", 1.0)))
      run(new TwsUpgrades.ProfileBuilderV2)
      assert(outRows().lastOption.contains((4L, 4L, 1L)),
        s"upgrade semantics broken: ${outRows()}")

      // run 4: INCOMPATIBLE upgrade — same state name 'profile', value
      // encoder Long→Double. Pinned: the restart is rejected by the
      // state-schema compatibility check (it must never silently
      // reinterpret serialized state)
      writeFile(Seq(EventStreams.Event(5, ts(5), 7L, "click", 1.0)))
      val e = intercept[Exception] {
        run(new TwsUpgrades.ProfileBuilderV3)
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.toString.toLowerCase).mkString(" ")
      assert(msgs.contains("schema") || msgs.contains("compatible"),
        s"expected a state-schema compatibility rejection, got: $e")
    }
  }

  test("Replay.await: when one stream of a group fails, the caller " +
    "gets the exception and the sibling stream is stopped") {
    import graft.streaming.Replay
    val base = java.nio.file.Files.createTempDirectory("graft_replay_fail")
    val src = s"$base/src"
    (0 until 8).foreach(i => Seq(i).toDF("id").coalesce(1).write
      .mode("append").parquet(src))
    val siblingBatches = new java.util.concurrent.atomic.AtomicInteger()
    val failing = Replay.start(spark, "id INT", src, s"$base/ckpt_fail",
      Replay.ForEachBatch((_, _) =>
        throw new IllegalStateException("batch failed")))
    val sibling = Replay.start(spark, "id INT", src, s"$base/ckpt_ok",
      Replay.ForEachBatch { (_, _) =>
        siblingBatches.incrementAndGet()
        Thread.sleep(1000)
      })
    val e = intercept[Throwable](Replay.await(failing, sibling))
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("batch failed"))),
      s"unexpected failure: $e")
    assert(!failing.isActive && !sibling.isActive)
    assert(siblingBatches.get < 8,
      "the sibling ran all 8 batches instead of being stopped")
  }
}

/** Upgrade variants of [[EventStreams.ProfileBuilder]] for the
  * checkpoint-restart pin — top-level (not suite-nested) so the
  * closure serializer never drags the ScalaTest suite along. */
object TwsUpgrades {

  /** v2 upgrade: same 'profile' MapState (name + encoders unchanged)
    * plus a NEW ValueState counting rows since the upgrade. The count
    * is surfaced on the otherwise-0 `n_error` field (inputs in the
    * spec are clicks only) purely as an observation channel. */
  class ProfileBuilderV2
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventStreams.Event, EventStreams.ProfileRow] {
    @transient private var profile:
      org.apache.spark.sql.streaming.MapState[String, Long] = _
    @transient private var sinceUpgrade:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      profile = getHandle.getMapState[String, Long]("profile",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      sinceUpgrade = getHandle.getValueState[Long]("since_upgrade",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
        rows: Iterator[EventStreams.Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[EventStreams.ProfileRow] = {
      val out =
        scala.collection.mutable.ArrayBuffer.empty[EventStreams.ProfileRow]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val n = (if (profile.containsKey(e.event_type))
          profile.getValue(e.event_type) else 0L) + 1L
        profile.updateValue(e.event_type, n)
        val su = (if (sinceUpgrade.exists()) sinceUpgrade.get() else 0L) + 1L
        sinceUpgrade.update(su)
        def c(t: String): Long =
          if (profile.containsKey(t)) profile.getValue(t) else 0L
        out += EventStreams.ProfileRow(key, e.event_id, c("click"),
          c("view"), c("purchase"), c("signup"), su)
      }
      out.iterator
    }
  }

  /** v3 "upgrade": the SAME state name 'profile' with its map VALUE
    * encoder changed Long→Double — the incompatible change the
    * platform must reject at restart. */
  class ProfileBuilderV3
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventStreams.Event, EventStreams.ProfileRow] {
    @transient private var profile:
      org.apache.spark.sql.streaming.MapState[String, Double] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      profile = getHandle.getMapState[String, Double]("profile",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[EventStreams.Event],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[EventStreams.ProfileRow] = {
      rows.map { e =>
        val n = (if (profile.containsKey(e.event_type))
          profile.getValue(e.event_type) else 0.0) + 1.0
        profile.updateValue(e.event_type, n)
        EventStreams.ProfileRow(key, e.event_id, n.toLong, 0L, 0L, 0L, 0L)
      }
    }
  }
}

/** The event-time timer pin's input, output and processor — top-level
  * so the closure serializer never drags the ScalaTest suite along. */
object TimerPins {
  case class In(ts: java.sql.Timestamp, user_id: Long)
  case class Fired(user_id: Long, expiry_ms: Long, wm_ms: Long)

  /** Registers one timer per key at `timerAtMs(key)` and emits the
    * expiry and the current watermark when it fires. */
  class AtMs(timerAtMs: Map[Long, Long])
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, In, Fired] {
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = ()

    override def handleInputRows(key: Long, rows: Iterator[In],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Fired] = {
      rows.foreach(_ => ())
      getHandle.registerTimer(timerAtMs(key))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[Fired] =
      Iterator.single(Fired(key, info.getExpiryTimeInMs(),
        timers.getCurrentWatermarkInMs()))
  }
}
