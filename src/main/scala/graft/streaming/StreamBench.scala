package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Micro-batch throughput of the streaming faces — the measurement the
  * `EventStreams` family lacked (parity specs prove correctness; this
  * records rows/sec so a structural slowdown in the streaming path is
  * caught the same way a batch regression is).
  *
  * Methodology: each face is driven exactly like its parity spec —
  * a MemoryStream of row ids joined to the cached source table (or of
  * typed tuples for the stateful processors) — split into `nChunks`
  * micro-batches with `processAllAvailable` between chunks, so the
  * measured time includes real per-micro-batch planning/state-commit
  * overhead, not just one giant batch. Reported number is
  * input rows / wall seconds. Each face degrades to -1 alone; the
  * caller (Bench) splices the fragment into the bench JSON.
  */
object StreamBench {

  /** Cooperative abort: set by Bench when its stream-phase Await times
    * out. Stopping the active query only kills the CURRENT face (each
    * face catches its own failure and returns -1) — without this flag
    * the orphaned feeder thread would proceed to start and feed every
    * REMAINING face concurrently with the batch measurement loop.
    * Reset at the top of each run(). */
  @volatile private var abortFlag = false
  def abort(): Unit = { abortFlag = true }

  /** Dev driver: run the streaming faces alone against a testdata dir. */
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    println("{" +
      run(spark, args.headOption.getOrElse("/root/testdata/sf0.001")) + "}")
    spark.stop()
  }

  private def r0(d: Double): Long = math.rint(d).toLong

  /** Run one face: feed `chunks` through `addData`+`processAllAvailable`,
    * return rows/sec. The memory-sink table is dropped afterwards. */
  private def timeFace(nRows: Long)(run: () => Unit): Double = {
    val t0 = System.nanoTime()
    run()
    val sec = (System.nanoTime() - t0) / 1e9
    if (sec <= 0) -1.0 else nRows / sec
  }

  def run(spark: SparkSession, sfDir: String,
          nChunks: Int = 4): String = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    abortFlag = false
    val ckRoot = java.nio.file.Files
      .createTempDirectory("graft-streambench").toString

    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).cache()
    val nEvents = events.count()
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text")).cache()
    val nDocs = docs.count()

    var faceN = 0
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    /** Payload-fed face: a MemoryStream of typed rows built into a
      * streaming frame by `build`, written to a memory sink, fed in
      * nChunks micro-batches. Owns the RocksDB provider set/restore
      * when the face needs transformWithState (no cross-face conf
      * coupling), and short-circuits to -1 when Bench aborted the
      * stream phase. */
    /** `warmup` rows, when non-empty, are fed (in the same chunk
      * grain) and fully processed BEFORE the clock starts — the
      * steady-state methodology for faces whose first batches are
      * dominated by one-time costs (plan + codegen + sink/state
      * setup): the timed figure is then the MARGINAL micro-batch rate,
      * the number a capacity plan actually needs. Faces without
      * warmup keep the cold first batch in the measurement. */
    def payloadFace[T](name: String, rows: Seq[T], mode: String,
                       rocksDb: Boolean = false, warmup: Seq[T] = Nil)
                      (build: MemoryStream[T] => DataFrame)
                      (implicit enc: org.apache.spark.sql.Encoder[T])
        : (String, Double) = {
      if (abortFlag) return (name, -1.0)
      faceN += 1
      val view = s"sb_$faceN"
      // transformWithState faces run under the production state-store
      // posture, set per face and restored after (no cross-face conf
      // coupling): RocksDB provider (required by transformWithState),
      // CHANGELOG checkpointing (commit uploads the batch's delta, not
      // a full SST snapshot — the per-batch fixed term that dominated
      // stream_neardup's r14 rate; see NearDupProbe), no no-data
      // micro-batches (TimeMode.None faces have no timers to fire, so
      // the extra empty batch after every feed only re-commits every
      // state store), and state partitions SIZED TO THE FEED (each of
      // the N stores commits per batch, so N scales the fixed term —
      // 32 session partitions over 1-4k-doc micro-batches halved the
      // measured rate vs 8; a real deployment sizes this knob to
      // per-batch volume exactly the same way).
      val twsConfs: Seq[(String, String)] = if (!rocksDb) Nil else Seq(
        providerKey ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"),
        ("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled") -> "true",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "8")
      val prior = twsConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      val rate = try {
        twsConfs.foreach { case (k, v) => spark.conf.set(k, v) }
        val mem = MemoryStream[T]
        val q = build(mem).writeStream.outputMode(mode)
          .option("checkpointLocation", s"$ckRoot/f$faceN")
          .format("memory").queryName(view).start()
        // ONE micro-batch grain per face, fixed by the MEASURED payload:
        // warmup and measured feeds run at the SAME batch size (a
        // smaller warmup is simply fewer batches), so the timed figure
        // is the marginal rate at exactly the grain that was warmed —
        // the r12 methodology fed measured batches 3x the warmup grain,
        // which amortized per-batch overhead the warmup never saw and
        // overstated the rate.
        val grain = math.max(1, (rows.length + nChunks - 1) / nChunks)
        def feed(payload: Seq[T]): Unit =
          payload.grouped(grain).foreach { c =>
            mem.addData(c: _*); q.processAllAvailable()
          }
        try {
          if (warmup.nonEmpty) feed(warmup)
          timeFace(rows.length.toLong)(() => feed(rows))
        } finally {
          q.stop(); spark.catalog.dropTempView(view)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[streambench] $name: $e"); -1.0
      } finally {
        prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
      (name, rate)
    }
    // documents arrive IN the stream (the landing-zone shape the face
    // models: files land → scrub/score/stamp → append) — feeding ids
    // and re-joining the static corpus per micro-batch measured the
    // harness join, not the transform, and at 1.25k docs/batch the
    // per-batch replan dominated (measured ~1.6-1.9k docs/s; the
    // payload feed isolates the fused pii_scan/gopher_scan projection).
    // STEADY-STATE: the corpus is fed once untimed (plan + codegen +
    // sink setup land there), then the measured feed is the corpus
    // replicated `prepRep`× under fresh doc_ids — nChunks measured
    // micro-batches at the shared grain (payloadFace derives the
    // chunk size from the MEASURED payload — nChunks batches of
    // prepRep·corpus/nChunks rows — and the warmup corpus feeds at
    // that same grain in proportionally fewer batches), the marginal
    // rate the transform
    // sustains once the query is hot (the batch twin of the same
    // projection runs >20k docs/s; a cold 4-batch feed mostly
    // measured fixed per-query setup).
    val docPayload =
      docs.select(col("doc_id"), col("lang"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val prepRep = 3
    val idSpan = if (docPayload.isEmpty) 1L
      else docPayload.map(_._1).max + 1L
    val prepMeasured = (1 to prepRep).flatMap(k =>
      docPayload.map { case (id, l, t) => (id + k * idSpan, l, t) })
    val stateless = payloadFace(
      "stream_preprocess", prepMeasured, "append",
      warmup = docPayload)(mem =>
      EventStreams.preprocessStream(
        mem.toDF().toDF("doc_id", "lang", "text")))
    // STEADY-STATE for the stateful event faces (hourly / dedup /
    // sessionize), same methodology as stream_preprocess: a warmup
    // quarter of the corpus is fed untimed at original timestamps
    // (plan + codegen + sink + state-store setup land there), then the
    // measured feed is the FULL corpus with event_ids offset past the
    // id span and timestamps shifted past the warmup range plus the
    // watermark delay — the shape of a forever-stream's steady state:
    // query hot, fresh keys arriving, event time advancing so the
    // watermark keeps evicting what the warmup left behind. (The
    // previous cold id-join feed measured one-time setup as much as
    // the transform — these faces halved on the loaded r12 driver
    // host while the warmed preprocess face held.)
    val eventRows = events
      .select(col("event_id"), expr("unix_micros(ts)").as("us"),
        col("user_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4))).toSeq
    val evIdSpan = if (eventRows.isEmpty) 1L
      else eventRows.map(_._1).max + 1L
    // 3h > the 2h hourlyTypeCounts/dedupStream watermark delay, so no
    // measured row is late relative to the warmup's high-water mark
    val evShiftUs = (if (eventRows.isEmpty) 0L
      else eventRows.map(_._2).max - eventRows.map(_._2).min) +
      3L * 3600 * 1000000
    val evWarm = eventRows.take(eventRows.length / 4)
    val evMeasured = eventRows.map { case (id, us, u, et, v) =>
      (id + evIdSpan, us + evShiftUs, u, et, v) }
    def eventDf(mem: MemoryStream[(Long, Long, Long, String, Double)])
        : DataFrame =
      mem.toDF().toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val hourly = payloadFace("stream_hourly", evMeasured, "update",
      warmup = evWarm)(mem => EventStreams.hourlyTypeCounts(eventDf(mem)))
    val dedup = payloadFace("stream_dedup", evMeasured, "append",
      warmup = evWarm)(mem => EventStreams.dedupStream(eventDf(mem)))

    // transformWithState faces: RocksDB provider set/restored INSIDE
    // payloadFace per face (the spec contract)
    val sessWarm = evWarm.map { case (_, us, u, et, _) =>
      (u, us / 1000, et) }
    val sessMeasured = evMeasured.map { case (_, us, u, et, _) =>
      (u, us / 1000, et) }
    val sessionize = payloadFace(
      "stream_sessionize", sessMeasured,
      "append", rocksDb = true, warmup = sessWarm)(mem =>
      EventStreams.sessionize(mem.toDS().map { case (u, ms, et) =>
        EventStreams.SessionEvent(u, new java.sql.Timestamp(ms), et)
      }, gapMs = 600000L).toDF())

    // within-stream near-dup: banded MinHash per-bucket ListState.
    // Fed EXACTLY like its doc-face sibling stream_preprocess: a
    // quarter-corpus warmup (plan + codegen + RocksDB setup + the
    // first state-store commits land untimed), then prepRep× the
    // corpus under fresh doc_ids at the shared grain — the r14 cold
    // single-corpus feed divided ~0.4s/batch of fixed micro-batch
    // machinery by 1.25k-doc batches and read 1k docs/s for a face
    // whose compare term is ~3% of wall (NearDupProbe decomposition,
    // SURVEY §24): the steady-state feed measures the marginal rate
    // the state layout actually sustains. Replica texts are exact
    // dups of the warmed buckets' members, so the measured feed does
    // STRICTLY MORE per-bucket compare work than the cold one.
    val ndWarm = docPayload.map { case (id, _, t) => (id, t) }
      .take(docPayload.length / 4)
    val ndMeasured = (1 to prepRep).flatMap(k =>
      docPayload.map { case (id, _, t) => (id + k * idSpan, t) })
    val neardup = payloadFace(
      "stream_neardup", ndMeasured,
      "append", rocksDb = true, warmup = ndWarm)(mem =>
      EventStreams.nearDupStream(spark,
        mem.toDF().toDF("doc_id", "text")).toDF())

    events.unpersist(); docs.unpersist()
    // the per-run checkpoint tree is dev/bench scratch — delete it so
    // repeated runs don't grow /tmp for the life of the host
    try {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(Path.of(ckRoot)).sorted(Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    } catch { case _: Throwable => () }
    val faces = Seq(stateless, hourly, dedup, sessionize, neardup)
    (faces.map { case (k, v) =>
      "\"" + k + "_rows_per_sec\":" + (if (v < 0) "-1" else r0(v).toString)
    } :+ s""""stream_event_rows":$nEvents,"stream_doc_rows":$nDocs""")
      .mkString(",")
  }
}
