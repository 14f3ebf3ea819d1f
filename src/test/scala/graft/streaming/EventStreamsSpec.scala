package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class EventStreamsSpec extends SparkSpec {

  test("streaming hourly counts == batch hourly counts (stream/batch parity)") {
    import spark.implicits._
    // Drive the *same* transform in streaming mode from a MemoryStream fed
    // with the batch rows; after processAllAvailable the complete-mode
    // aggregate must equal the batch aggregate.
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    val rows = batch.collect()

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val lookup = batch.cache()
    // stream of event_ids joined back to rows: keeps the MemoryStream
    // encoder trivial while the aggregation sees real event rows
    val streamDf = mem.toDF().withColumnRenamed("value", "event_id")
      .join(lookup, "event_id")
    val agg = streamDf
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hourly_test").start()
    mem.addData(rows.map(_.getAs[Long]("event_id")).toSeq: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly_test")
      .select(col("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("n")).toMap
    val expected = batch
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0), r.get(1)) -> r.getAs[Long]("n")).toMap
    assert(streamed === expected)
  }

  test("streaming document preprocess == batch preprocess (parity)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).cache()
    val mem = MemoryStream[Long]
    val streamDf = mem.toDF().withColumnRenamed("value", "doc_id")
      .join(docs, "doc_id")
    val q = EventStreams.preprocessStream(streamDf)
      .writeStream.outputMode("append").format("memory")
      .queryName("preproc_test").start()
    try {
      mem.addData(docs.collect().map(_.getAs[Long]("doc_id")).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("preproc_test").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq.tail).toMap
    val batch = EventStreams.preprocessStream(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq.tail).toMap
    assert(streamed.size === batch.size)
    assert(streamed === batch)
  }

  test("watermarked windowed aggregation runs with bounded state") {
    import org.apache.spark.sql.streaming.Trigger
    // File source over the project's OWN nanos parquet (copied verbatim
    // into a landing dir — the file source wants a directory) —
    // readEventStream handles the TIMESTAMP(NANOS) conversion itself.
    val tmp = SparkSpec.tempDir("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(tmp, "events.parquet"))
    val stream = EventStreams.readEventStream(spark, tmp)
    val q = EventStreams.hourlyTypeCounts(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_test").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination(120000)
    finally q.stop() // never leak the query — it would spam state-store
                     // maintenance warnings for the rest of the JVM
    // append mode emits only watermark-closed windows; the final window
    // stays open, but the month-long fixture closes hundreds
    val rows = spark.table("wm_test").collect()
    assert(spark.table("wm_test").columns.toSeq ===
      Seq("window_start", "event_type", "n", "sum_value"))
    assert(rows.nonEmpty, "watermark should have closed windows")
    // event time must be REAL data time, not an epoch-1970 artifact of
    // a mis-decoded ts column (the round-6 streaming-reader regression)
    rows.foreach { r =>
      val y = r.getAs[java.sql.Timestamp]("window_start")
        .toLocalDateTime.getYear
      assert(y >= 2020, s"window_start in $y — ts decoded wrong")
    }
    // stream agg must agree with the same aggregation over the batch
    // loader's normalized ts (closed windows are a subset of batch)
    val batchWindows = EventStreams.hourlyTypeCounts(
        graft.Tables.events(spark, sf))
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
    rows.foreach { r =>
      val k = (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("event_type"))
      assert(batchWindows.contains(k), s"stream window $k absent in batch")
      assert(batchWindows(k)._1 === r.getAs[Long]("n"), s"count mismatch $k")
    }
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF()
      .select(col("_1").as("event_id"),
        timestamp_millis(col("_2")).as("ts"))
    val q = EventStreams.dedupStream(stream, "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_test").start()
    try {
      mem.addData((1L, 1000L), (2L, 2000L), (1L, 1500L)) // 1 re-delivered
      q.processAllAvailable()
      mem.addData((2L, 3000L), (3L, 4000L))              // 2 re-delivered
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_test").collect()
      .map(_.getAs[Long]("event_id")).toSeq
    assert(ids.sorted === Seq(1L, 2L, 3L))
  }

  test("stream-stream interval join: clicks within 10 min of a view") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def mkDf(mem: MemoryStream[(Long, Long, Long)]) = mem.toDF()
      .select(col("_1").as("event_id"), timestamp_millis(col("_2")).as("ts"),
        col("_3").as("user_id"))
    val views = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    val q = EventStreams.clickWithinViewWindow(mkDf(views), mkDf(clicks))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_test").start()
    try {
      views.addData((1L, 60000L, 7L), (2L, 120000L, 8L))
      clicks.addData((10L, 120000L, 7L),  // user 7, +1 min: match
        (11L, 2000000L, 7L),              // user 7, +32 min: outside window
        (12L, 180000L, 9L))               // no view for user 9
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_test").select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 10L)))
  }

  test("left-outer stream-stream join emits unmatched views exactly " +
      "once after both watermarks pass") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def mkDf(mem: MemoryStream[(Long, Long, Long)]) = mem.toDF()
      .select(col("_1").as("event_id"), timestamp_millis(col("_2")).as("ts"),
        col("_3").as("user_id"))
    val views = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    val q = EventStreams.clickWithinViewWindowOuter(
        mkDf(views), mkDf(clicks))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssj_outer_test").start()
    try {
      views.addData((1L, 60000L, 7L),   // will match
        (2L, 120000L, 8L))              // will NOT match
      clicks.addData((10L, 120000L, 7L))
      q.processAllAvailable()
      // before the watermarks pass view 2's window end, the unmatched
      // row must NOT have been emitted (the match could still arrive)
      val early = spark.table("ssj_outer_test")
        .select("view_id").collect().map(_.getLong(0)).toSet
      assert(early === Set(1L), s"premature outer emission: $early")
      // advance BOTH event-time watermarks far past view 2's window
      views.addData((3L, 3600000L, 9L))
      clicks.addData((11L, 3600000L, 9L))
      q.processAllAvailable()
      // one more batch so the state eviction from the advanced
      // watermark lands in the sink
      views.addData((4L, 7200000L, 9L))
      clicks.addData((12L, 7200000L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_outer_test")
      .select("view_id", "click_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    // view 1 matched click 10; view 2 emitted once with null click
    assert(got.contains((1L, 10L)))
    assert(got.contains((2L, -1L)), s"unmatched view never emitted: $got")
    assert(got.count(_._1 == 2L) === 1, s"view 2 emitted twice: $got")
  }

  test("stream-static enrichment joins each micro-batch to the dim") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id", "segment")
    val mem = MemoryStream[Long]
    val stream = mem.toDF().withColumnRenamed("value", "user_id")
    val q = EventStreams.enrichWithDim(stream, dim)
      .writeStream.outputMode("append").format("memory")
      .queryName("enrich_test").start()
    try {
      mem.addData(7L, 9L, 8L, 7L) // 9 has no dim row → dropped (inner)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enrich_test").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("segment")))
      .sorted.toSeq
    assert(got === Seq((7L, "gold"), (7L, "gold"), (8L, "silver")))
  }

  test("sessionization groups events by gap (transformWithState)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val mem = MemoryStream[(Long, Long, String)]
    val events = mem.toDS()
      .map { case (u, ms, et) => EventStreams.SessionEvent(u, t(ms), et) }
    val q = EventStreams.sessionize(events, gapMs = 60000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    try {
      // user 1: two events 10s apart (one session), then 10min gap -> new
      // session
      mem.addData((1L, 0L, "a"), (1L, 10000L, "b"), (1L, 700000L, "c"),
        (2L, 0L, "x"))
      q.processAllAvailable()
      mem.addData((1L, 720000L, "d"))
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("sess_test").as[EventStreams.Session].collect()
    // the first session of user 1 must have closed with 2 events
    assert(closed.exists(s => s.user_id == 1 && s.n_events == 2 &&
      s.first_ts == 0 && s.last_ts == 10000))
  }

  test("batch gaps-and-islands sessions == streaming closed sessions") {
    import graft.operators.Relational
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = Seq((1L, 0L, "a"), (1L, 10000L, "b"), (1L, 700000L, "c"),
      (1L, 720000L, "d"), (1L, 9000000L, "e"),
      (2L, 0L, "x"), (2L, 30000L, "y"), (2L, 10000000L, "z"))
    // streaming: transformWithState sessionizer, 1-minute gap
    val mem = MemoryStream[(Long, Long, String)]
    val events = mem.toDS().map { case (u, ms, et) =>
      EventStreams.SessionEvent(u, new java.sql.Timestamp(ms), et) }
    val q = EventStreams.sessionize(events, gapMs = 60000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_parity").start()
    try { mem.addData(data: _*); q.processAllAvailable() } finally q.stop()
    def fmt(ms: Long) = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    val streamed = spark.table("sess_parity").as[EventStreams.Session]
      .collect()
      .map(s => (s.user_id, s.n_events, fmt(s.first_ts), fmt(s.last_ts)))
      .toSet
    // batch: same rows through the gaps-and-islands window composition
    val batchDf = data.toDF("user_id", "ms", "et")
      .select(col("user_id"), timestamp_millis(col("ms")).as("ts"),
        col("ms").as("event_id"))
    val batch = Relational.sessionizeEvents(batchDf, gapMin = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    // the stream emits a session only when a later event CLOSES it, so
    // drop each user's final (still-open) batch session before comparing
    val lastId = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batchClosed = batch.filter(t => t._2 != lastId(t._1))
      .map(t => (t._1, t._3, t._4, t._5)).toSet
    assert(batchClosed === streamed)
    assert(streamed.nonEmpty)
  }

  test("built-in session_window: batch equals the gaps-and-islands " +
    "composition; streamed rows are the watermark-closed subset") {
    import graft.operators.Relational
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = Seq((1L, 0L, "a"), (1L, 10000L, "b"), (1L, 700000L, "c"),
      (1L, 720000L, "d"), (1L, 9000000L, "e"),
      (2L, 0L, "x"), (2L, 30000L, "y"), (2L, 10000000L, "z"))
    val gapMs = 60000L
    def toEvents(ds: org.apache.spark.sql.Dataset[(Long, Long, String)]) =
      ds.map { case (u, ms, et) =>
        EventStreams.SessionEvent(u, new java.sql.Timestamp(ms), et) }
    // batch face of the SAME query: all sessions, no watermark close
    val batchSw = EventStreams.sessionizeBuiltin(
        toEvents(data.toDS()), gapMs).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)).toSet
    // cross-validate the built-in against the SQL window composition
    val batchDf = data.toDF("user_id", "ms", "et")
      .select(col("user_id"), timestamp_millis(col("ms")).as("ts"),
        col("ms").as("event_id"))
    def parseMs(s: String) = java.time.LocalDateTime
      .parse(s, java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val gi = Relational.sessionizeEvents(batchDf, gapMin = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        parseMs(r.getString(3)), parseMs(r.getString(4)))).toSet
    assert(batchSw === gi)
    // streaming: emitted rows are exactly the sessions the final
    // watermark (= max event time) has passed
    val mem = MemoryStream[(Long, Long, String)]
    val q = EventStreams.sessionizeBuiltin(toEvents(mem.toDS()), gapMs)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_builtin").start()
    try { mem.addData(data: _*); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sess_builtin").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)).toSet
    val wm = data.map(_._2).max
    val closed = batchSw.filter { case (_, _, _, last) => last + gapMs <= wm }
    assert(streamed === closed)
    assert(streamed.nonEmpty)
  }

  test("streaming RFM state + batch rank == the full batch RFM operator") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the REAL purchase slice, in cents (exactly the batch decimal sum)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) *
          100).cast("long").as("cents"))
      .as[EventStreams.PurchaseEvent].collect()
    assert(purchases.nonEmpty)
    val mem = MemoryStream[EventStreams.PurchaseEvent]
    val q = EventStreams.rfmStream(mem.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("rfm_stream_test").start()
    try {
      // two micro-batches: state must accumulate ACROSS batches
      val (first, second) = purchases.splitAt(purchases.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // final state per user = the row with the highest frequency
    // (frequency is strictly monotone across updates)
    val finalStates = spark.table("rfm_stream_test")
      .as[EventStreams.RfmUser].collect()
      .groupBy(_.user_id).map(_._2.maxBy(_.frequency)).toSeq
    val streamRfm = EventAnalytics.rfmRank(finalStates.toDF()
      .select(col("user_id"), col("last_us"), col("frequency"),
        (col("monetary_cents") / 100.0).as("monetary")))
      .collect().map(_.toSeq).toSet
    val batchRfm = EventAnalytics.rfmScores(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamRfm === batchRfm)
  }

  test("checkpoint restart: query killed mid-stream resumes from its " +
      "checkpoint with no lost or duplicated state") {
    // The other half of the exactly-once claim: parity tests prove the
    // state math, THIS proves the state survives a crash. The query is
    // stopped while input is pending, a NEW query incarnation starts
    // from the same checkpoint dir, and the final per-user RFM state
    // must still equal the batch operator's: lost state would shrink
    // frequencies (RocksDB snapshot not restored), replayed input
    // applied twice would inflate them (offset log ignored).
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) *
          100).cast("long").as("cents"))
      .as[EventStreams.PurchaseEvent].collect()
    assert(purchases.length >= 3)
    val ckpt = SparkSpec.tempDir("graft_rfm_restart_")
    // foreachBatch appends to a driver-side buffer that OUTLIVES the
    // query incarnations (a memory-sink table would be truncated by the
    // restart); a replayed batch may append duplicates — exactly what
    // the maxBy(frequency) fold below must be robust to
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[EventStreams.RfmUser]
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val mem = MemoryStream[EventStreams.PurchaseEvent]
    def start() = EventStreams.rfmStream(mem.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[EventStreams.RfmUser],
         id: Long) =>
          val rows = ds.collect()
          seen.synchronized { seen ++= rows; batchIds += id }
          ()
      }.start()
    val (c1, rest) = purchases.splitAt(purchases.length / 3)
    val (c2, c3) = rest.splitAt(rest.length / 2)
    val q1 = start()
    try { mem.addData(c1.toIndexedSeq: _*); q1.processAllAvailable() }
    finally q1.stop() // the kill — c2 arrives while the query is down
    val idsFirstRun = seen.synchronized(batchIds.toList)
    assert(idsFirstRun.nonEmpty)
    mem.addData(c2.toIndexedSeq: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(c3.toIndexedSeq: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    // the second incarnation RESUMED batch numbering from the offset
    // log — a from-scratch restart would begin again at batch 0
    val idsSecondRun = seen.synchronized(batchIds.toList)
      .drop(idsFirstRun.length)
    assert(idsSecondRun.nonEmpty && idsSecondRun.min > idsFirstRun.max,
      s"restart did not resume from checkpoint: $idsFirstRun then $idsSecondRun")
    // final state per user = highest-frequency row (monotone across
    // updates, idempotent under sink-side replay)
    val finalStates = seen.synchronized(seen.toList)
      .groupBy(_.user_id).map(_._2.maxBy(_.frequency)).toSeq
    val streamRfm = EventAnalytics.rfmRank(finalStates.toDF()
      .select(col("user_id"), col("last_us"), col("frequency"),
        (col("monetary_cents") / 100.0).as("monetary")))
      .collect().map(_.toSeq).toSet
    val batchRfm = EventAnalytics.rfmScores(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamRfm === batchRfm,
      "state after kill+restart diverged from the batch operator")
  }

  test("checkpoint restart: windowed aggregation resumes mid-window — " +
      "closed windows still match the batch operator") {
    // the builtin-stateful-operator twin of the transformWithState
    // restart test: windows whose events STRADDLE the kill must come
    // back with full counts (restored aggregation buffers), and no
    // window may emit twice with different counts (restored watermark)
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ticks = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"))
      .as[EventStreams.TypedTick].collect().sortBy(_.ts.getTime)
    assert(ticks.length >= 3)
    val ckpt = SparkSpec.tempDir("graft_win_restart_")
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    val batchIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    var schema: org.apache.spark.sql.types.StructType = null
    val mem = MemoryStream[EventStreams.TypedTick]
    def start() = EventStreams.minuteTypeCounts(mem.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          val rows = ds.collect()
          seen.synchronized {
            schema = ds.schema; seen ++= rows; batchIds += id
          }
          ()
      }.start()
    val (a, rest) = ticks.splitAt(ticks.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    val q1 = start()
    try { mem.addData(a.toIndexedSeq: _*); q1.processAllAvailable() }
    finally q1.stop() // kill mid-window: open windows live only in state
    val idsFirst = seen.synchronized(batchIds.toList)
    mem.addData(b.toIndexedSeq: _*) // arrives while the query is down
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(c.toIndexedSeq: _*)
      q2.processAllAvailable()
      // sentinel closes every real window (its own stays open)
      mem.addData(EventStreams.TypedTick("__wm_sentinel",
        new java.sql.Timestamp(ticks.last.ts.getTime + 3600L * 1000)))
      q2.processAllAvailable()
    } finally q2.stop()
    val idsSecond = seen.synchronized(batchIds.toList).drop(idsFirst.length)
    assert(idsSecond.nonEmpty && idsSecond.min > idsFirst.max,
      s"restart did not resume from checkpoint: $idsFirst then $idsSecond")
    // append-mode emits each closed window once; a replayed sink batch
    // appends byte-identical rows, which the Set collapses — but a
    // LOST buffer would emit a partial count and break batch parity
    val emitted = seen.synchronized(seen.toList)
    val df = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(emitted: _*)), schema)
      // a replayed sink batch appends byte-identical rows; the scorer
      // aggregates, so collapse replays before scoring
      .distinct()
    val streamScored = EventAnalytics.scoreAnomalies(df)
      .collect().map(_.toSeq).toSet
    val batchScored = EventAnalytics.anomalyScores(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamScored === batchScored,
      "windowed state after kill+restart diverged from the batch operator")
    assert(streamScored.nonEmpty)
  }

  test("streaming closed minute-counts + batch scoring == batch anomaly operator") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // time-sorted so the second micro-batch never lands behind the
    // watermark the first batch advanced (late rows would be dropped
    // and parity would break for the wrong reason)
    val ticks = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"))
      .as[EventStreams.TypedTick].collect().sortBy(_.ts.getTime)
    assert(ticks.nonEmpty)
    val mem = MemoryStream[EventStreams.TypedTick]
    val q = EventStreams.minuteTypeCounts(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("minute_counts_test").start()
    try {
      // two micro-batches: per-window counts must accumulate across them
      val (first, second) = ticks.splitAt(ticks.length / 2)
      mem.addData(first.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toIndexedSeq: _*)
      q.processAllAvailable()
      // sentinel advances the watermark past every real window so they
      // all close; its own window stays open and is never emitted
      mem.addData(EventStreams.TypedTick("__wm_sentinel",
        new java.sql.Timestamp(ticks.last.ts.getTime + 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamScored = EventAnalytics.scoreAnomalies(
      spark.table("minute_counts_test"))
      .collect().map(_.toSeq).toSet
    val batchScored = EventAnalytics.anomalyScores(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamScored === batchScored)
    assert(streamScored.nonEmpty)
  }

  test("late data accounting: a row behind the watermark is dropped and METERED") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the operational contract at scale: late rows must not corrupt
    // closed windows, and their count must be observable (the pipeline
    // alarm for "our watermark is too tight"), not silently vanish
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def tick(tp: String, plusSec: Long) =
      EventStreams.TypedTick(tp, new java.sql.Timestamp(t0.getTime + plusSec * 1000))
    val mem = MemoryStream[EventStreams.TypedTick]
    val q = EventStreams.minuteTypeCounts(mem.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("late_test").start()
    try {
      // batch 1: two events in minute 0, then advance the watermark
      // 30 min past them so minute 0 is closed and emitted
      mem.addData(tick("a", 1), tick("a", 2), tick("a", 1800))
      q.processAllAvailable()
      // batch 2: a LATE "a" event back in minute 0 — behind the
      // watermark, must be dropped, and must show up in the metric
      mem.addData(tick("a", 5))
      q.processAllAvailable()
      // sentinel closes everything still open
      mem.addData(tick("__wm_sentinel", 7200))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped === 1L, s"late-row drop not metered (dropped=$dropped)")
    } finally q.stop()
    val out = spark.table("late_test")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2)))
    // minute 0 closed with the ON-TIME count only — the late row
    // neither reopened the window nor double-emitted it
    assert(out.count(x => x._1 == "a" && x._2 == t0.getTime) === 1)
    assert(out.find(x => x._1 == "a" && x._2 == t0.getTime).get._3 === 2L)
  }

  test("streaming bloom dedup emits exactly the never-seen documents") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).cache()
    // history = docs 0..99; the stream re-delivers 50..149 → only
    // 100..149 are new (plus: re-delivery of the same batch twice must
    // not change the answer — stateless classification)
    val history = docs.filter(col("doc_id") < 100)
    val ids = (50L until 150L)
    val mem = MemoryStream[Long]
    val streamDf = mem.toDF().withColumnRenamed("value", "doc_id")
      .join(docs, "doc_id")
    val q = EventStreams.dedupDocStream(history, streamDf)
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_dedup_test").start()
    try {
      mem.addData(ids: _*)
      q.processAllAvailable()
      mem.addData(ids: _*) // re-delivery: classified identically
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("bloom_dedup_test").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(emitted === (100L until 150L).toSet,
      "bloom+digest must pass exactly the never-seen ids")
  }

  test("streaming bloom dedup cold start: empty history passes every doc") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // BloomFilterAggregate over zero rows returns NULL — the operator
    // must degrade to the exact anti-join (which is empty), not
    // NULL-filter everything away
    val history = docs.filter(col("doc_id") < 0)
    val mem = MemoryStream[Long]
    val streamDf = mem.toDF().withColumnRenamed("value", "doc_id")
      .join(docs, "doc_id")
    val q = EventStreams.dedupDocStream(history, streamDf)
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_cold_test").start()
    try {
      mem.addData(0L until 40L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("bloom_cold_test").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(emitted === (0L until 40L).toSet,
      "cold start must emit the full never-seen set")
  }

  test("idempotent sink: committed batch directories are never rewritten") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = SparkSpec.tempDir("graft-sink")
    val mem = MemoryStream[Long]
    val q = EventStreams.idempotentSink(
      mem.toDF().withColumnRenamed("value", "doc_id"), base)
    try {
      mem.addData(1L, 2L, 3L)
      q.processAllAvailable()
      mem.addData(4L, 5L)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(base)
    assert(out.count() === 5)
    assert(out.select("batch_id").distinct().count() === 2)
    val dir0 = new java.io.File(s"$base/batch_id=0")
    assert(new java.io.File(dir0, "_SUCCESS").exists(),
      "commit marker gates the skip path")
    // replay: re-run the SAME batch id through the sink's own commit
    // body (failure recovery re-executes the last epoch) with a
    // DIFFERENT replayed frame — the committed batch_id=0 directory
    // must be skipped intact, files and content unchanged
    val files0 = dir0.listFiles().map(f => f.getName -> f.lastModified).toMap
    EventStreams.commitBatch(Seq(99L).toDF("doc_id").toDF(), 0L, base)
    assert(dir0.listFiles().map(f => f.getName -> f.lastModified).toMap
      === files0, "committed directory untouched by a replayed batch id")
    assert(spark.read.parquet(dir0.getPath).collect()
      .map(_.getAs[Long]("doc_id")).toSet === Set(1L, 2L, 3L),
      "replayed data must not replace the committed epoch")
    // an UNcommitted id still writes (the crash-recovery overwrite path)
    EventStreams.commitBatch(Seq(99L).toDF("doc_id").toDF(), 7L, base)
    assert(new java.io.File(s"$base/batch_id=7/_SUCCESS").exists())
  }

  test("streaming EWMA == batch ewmaSpikes (stream/batch parity)") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the whole sf0.001 events fixture, in event-time order, split
    // across three micro-batches (per-user in-order arrival — the
    // processor's contract, same as the sessionizer)
    val evs = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        round(col("value") * 1e6).cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .sortBy(t => (t._3, t._2))
      .map(t => EventStreams.EwmaEvent(t._1, t._2, t._3, t._4))
    val mem = MemoryStream[EventStreams.EwmaEvent]
    val q = EventStreams.ewmaStream(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_parity").start()
    try {
      evs.grouped(math.max(evs.length / 3, 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("ewma_parity").as[EventStreams.EwmaOut]
      .collect()
      .map(o => (o.event_id, o.user_id, o.value_micros, o.ewma_micros,
        o.spike)).toSet
    val batch = EventAnalytics.ewmaSpikes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed === batch)
  }

  test("streaming streaks == batch streaks (stream/batch parity)") {
    import graft.operators.EventAnalytics
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // per-user nondecreasing day ticks (the processor's contract),
    // three micro-batches across the fixture's whole time range
    val ticks = graft.Tables.events(spark, sf)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long"))
      .as[(Long, Long)].collect().sortBy(_._2)
      .map(t => EventStreams.DayTick(t._1, t._2))
    val mem = MemoryStream[EventStreams.DayTick]
    val q = EventStreams.streakStream(mem.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("streak_parity").start()
    try {
      ticks.grouped(math.max(ticks.length / 3, 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    // final state = the per-user update with the highest progress
    val streamed = spark.table("streak_parity")
      .as[EventStreams.StreakOut].collect()
      .groupBy(_.user_id).values.map(_.maxBy(o =>
        (o.n_active_days, o.max_streak))).map(o =>
        (o.user_id, o.n_active_days, o.max_streak,
          java.time.LocalDate.ofEpochDay(o.streak_start).toString)).toSet
    val batch = EventAnalytics.streaks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(streamed === batch)
  }

  test("streaming near-dup: micro-batched LSH classification against " +
      "static history == the batch nearDupCross twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val history = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val crawl = graft.operators.Fixtures.crawlBatch(history)
    val rows = crawl.collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val base = SparkSpec.tempDir("graft_neardup_stream")
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = EventStreams.nearDupDocStream(spark, history, streamDf, base)
    try {
      // two micro-batches: classification is per-epoch against the
      // same frozen history, so the union must equal the batch twin
      val (fst, snd) = rows.splitAt(rows.length / 2)
      mem.addData(fst.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(snd.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(base)
      .select("doc_id", "n_dups", "best_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.operators.Dedup.nearDupCross(spark, history, crawl)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed === want,
      "per-epoch near-dup classification diverged from the batch twin")
    assert(want.nonEmpty, "fixture produced no near-duplicates")
  }

  test("streaming BM25 ingestion: queries over streamed generations " +
      "are bit-identical to the one-shot in-session BM25") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf)
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val base = SparkSpec.tempDir("graft_bm25_stream")
    val mem = MemoryStream[(Long, String)]
    val streamDf = mem.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = EventStreams.bm25IngestStream(spark, streamDf, base)
    try {
      val (fst, snd) = rows.splitAt(rows.length / 2)
      mem.addData(fst.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(snd.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val gens = new java.io.File(base).listFiles
      .filter(_.getName.startsWith("gen_")).map(_.getPath).sorted.toSeq
    assert(gens.length == 2, s"expected 2 generations, got $gens")
    gens.foreach(g => assert(new java.io.File(g, "_done").exists()))
    val terms = Seq("spark", "query", "filter")
    val got = graft.operators.TextAnalysis
      .bm25QueryGens(spark, gens, terms, 10, 64).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    val want = graft.operators.TextAnalysis.bm25(docs, terms, 10)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSet
    assert(got === want,
      "streamed-generation index diverged from the one-shot scorer")
    assert(want.size == 10)
  }

  test("streaming CDC collapse == batch cdcNet after the log drains") {
    import graft.operators.Relational
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val log = Relational.cdcLog(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    val mem = MemoryStream[(Long, Long, String, Option[Long])]
    val ops = mem.toDS().map { case (k, seq, op, p) =>
      EventStreams.CdcOp(k, seq, op, p) }
    val q = EventStreams.cdcCollapseStream(ops)
      .writeStream.outputMode("update").format("memory")
      .queryName("cdc_test").start()
    try {
      // three arrival waves split by seq — state must carry first/last
      // across micro-batches, not just within one
      mem.addData(log.filter(_._2 <= 1).toSeq: _*)
      q.processAllAvailable()
      mem.addData(log.filter(r => r._2 > 1 && r._2 < 9).toSeq: _*)
      q.processAllAvailable()
      mem.addData(log.filter(_._2 >= 9).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // latest emission per key (update mode re-emits on every touch)
    val streamed = spark.table("cdc_test").as[EventStreams.CdcNet]
      .collect().groupBy(_.key)
      .map { case (k, rows) => k -> rows.maxBy(_.n_ops) }
    val batch = Relational.cdcNet(spark, sf).collect()
      .map(r => r.getLong(0) -> EventStreams.CdcNet(r.getLong(0),
        r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(streamed.size === batch.size)
    batch.foreach { case (k, want) =>
      assert(streamed(k) === want, s"key $k")
    }
  }

  test("within-stream near-dup == driver banded replay over the same " +
      "arrival order (transformWithState ListState)") {
    import graft.Tables
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // corpus slice + exact clones + one shuffled near-clone so hits at
    // BOTH full and partial agreement exist
    val docs0 = Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val extra = Seq(
      (900001L, docs0(0)._2),          // exact clone → 16/16 everywhere
      (900002L, docs0(1)._2),
      (900003L, docs0(2)._2 + " extra tail tokens appended here"))
    val feed = (docs0.toSeq ++ extra).sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.nearDupStream(spark, stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_test").start()
    try {
      feed.grouped((feed.size + 3) / 4).foreach { c =>
        mem.addData(c: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("neardup_test").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Long]("band"), r.getAs[Long]("agree16"))).sorted.toSeq
    // driver replay: the SAME band rows from the batch kernel, grouped
    // by bucket, pairs in doc_id order with agreement >= 12
    val bandRows = graft.operators.Dedup.bandSignatureRows(
        feed.toDF("doc_id", "text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Seq[Long]]("sig"),
        r.getAs[Int]("band").toLong, r.getAs[String]("band_key")))
    val want = bandRows.groupBy { case (_, _, b, k) => (b, k) }.toSeq
      .flatMap { case ((b, _), members) =>
        val sorted = members.sortBy(_._1)
        for {
          j <- sorted.indices
          i <- 0 until j
          agree = sorted(j)._2.zip(sorted(i)._2)
            .count { case (x, y) => x == y }
          if agree >= 12
        } yield (sorted(j)._1, sorted(i)._1, b, agree.toLong)
      }.sorted
    assert(got.nonEmpty, "the clone feed must produce near-dup hits")
    assert(got.exists(_._4 == 16L), "an exact clone must agree 16/16")
    assert(got === want)
    // the partial clone must surface with sub-16 agreement in at least
    // one band OR full agreement (depending on shingle overlap) — but
    // it must be detected
    assert(got.exists(h => h._1 == 900003L))
  }

  test("near-dup dedup horizon: capPerBucket=2 keeps within-horizon " +
      "hits and FIFO-evicts beyond it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // four exact clones arriving in four separate batches: identical
    // signatures, so every band's bucket sees docs 1,2,3,4 in order.
    // With cap=2 the state after doc 3 is [2,3] — doc 4 must match 2
    // and 3 but NOT the evicted doc 1.
    val text = "alpha beta gamma delta epsilon zeta eta theta iota"
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.nearDupStream(spark, stream, capPerBucket = 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_cap_test").start()
    try {
      Seq(1L, 2L, 3L, 4L).foreach { id =>
        mem.addData((id, text)); q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("neardup_cap_test").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[Long]("band"), r.getAs[Long]("agree16"))).toSeq
    val pairs = got.map(h => (h._1, h._2)).distinct.sorted
    // within-horizon hits: unchanged vs the unbounded contract
    assert(pairs === Seq((2L, 1L), (3L, 1L), (3L, 2L), (4L, 2L),
      (4L, 3L)), s"got $pairs")
    // beyond-horizon: (4,1) is exactly the evicted pair
    assert(!pairs.contains((4L, 1L)))
    // exact clones agree 16/16 in every band; all 4 bands fire for
    // each surviving pair
    assert(got.forall(_._4 == 16L))
    assert(got.size === pairs.size * 4, s"per-band fan-out: $got")
  }
}
