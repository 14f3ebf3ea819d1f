package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._
import org.apache.spark.sql.streaming.{ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference is batch-only (SURVEY.md
  * §2f) but its iterparse pipeline is shaped like a stream; these
  * operators are the streaming face of the engine: watermarked windowed
  * aggregation and custom sessionization state.
  *
  * Every transform takes a DataFrame, so the same code runs over
  * `readStream` (incremental, stateful) or `read` (batch) — the batch
  * run doubles as the oracle for the streaming run in tests.
  */
object EventStreams {

  /** Raw landing schema for `ts` as physical type `tsType` — the
    * events.parquet generations have shipped long nanos, TIMESTAMP_NTZ,
    * and could ship TIMESTAMP (see graft.Tables.events). */
  def rawEventSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based stream over event parquet (a landing directory or a
    * glob). At scale this is the landing-zone pattern: each micro-batch
    * picks up newly landed files; state lives in the aggregation, not
    * the source.
    *
    * A file stream needs an explicit schema, so the landing dir's
    * CURRENT physical encoding is probed with one batch read and the
    * same dtype-branched normalization as `Tables.events` applies: long
    * nanos rebuild via integer division (`div`, not `/`: epoch-nanos
    * exceed double's 2^53 exact range), NTZ casts to the session-UTC
    * timestamp, LTZ passes through. An empty landing dir defaults to
    * the current testdata generation (TIMESTAMP_NTZ). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case scala.util.control.NonFatal(_) => TimestampNTZType }
    val raw = spark.readStream.schema(rawEventSchema(tsType))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    tsType match {
      case LongType =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Watermarked tumbling-window count/sum per event type. The 2-hour
    * watermark bounds state: windows older than (max ts − 2h) are
    * finalized and evicted — without it, state grows unboundedly at
    * 100 TB/day ingest. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Minute-grain tumbling-window count per event type — the streaming
    * half of the batch anomaly detector
    * (operators.EventAnalytics.anomalyScores). Append mode: a
    * (type, minute) row is emitted exactly once, when the watermark
    * passes the window end, so downstream sees only FINAL counts — the
    * property the trailing-window z-score needs (a baseline minute must
    * never change after it is scored). State is one count per open
    * (type, minute) and the 10-minute watermark evicts closed windows,
    * so state size is O(types × 10) however fast events arrive. The
    * scoring layer itself (EventAnalytics.scoreAnomalies) stays a
    * serving-time batch over the landed counts — see its doc for why. */
  def minuteTypeCounts(events: DataFrame,
                       delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("window.start").as("minute"), col("n"))

  /** Streaming exactly-once dedup: drop re-delivered events by id within
    * the watermark horizon. `dropDuplicatesWithinWatermark` keeps state
    * only for `delay` of event time — bounded state, the streaming face
    * of the batch digest-dedup in operators.Dedup. */
  def dedupStream(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each view joined to the same user's
    * clicks within 10 minutes after it. Both sides are watermarked AND
    * the join condition bounds event-time distance, so state on both
    * sides is evictable — without the interval bound a stream-stream
    * join must retain every row forever. Works identically over batch
    * frames (the test's oracle). */
  def clickWithinViewWindow(views: DataFrame,
                            clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    v.join(c, expr("v_user = c_user AND click_ts >= view_ts AND " +
        "click_ts <= view_ts + INTERVAL 10 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"),
        col("click_id"), col("view_ts"), col("click_ts"))
  }

  /** LEFT-OUTER variant of [[clickWithinViewWindow]] — the
    * "views that did NOT convert" stream, the half outer-join state
    * management exists for: a view with no click inside its window
    * emits exactly once, with null click columns, and only after BOTH
    * watermarks pass the window end (before that the match could
    * still arrive — emitting earlier would be wrong, never emitting
    * would leak the unmatched rows). State stays evictable for the
    * same reason as the inner form: the interval bound caps how long
    * either side must be retained. */
  def clickWithinViewWindowOuter(views: DataFrame,
                                 clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    v.join(c, expr("v_user = c_user AND click_ts >= view_ts AND " +
        "click_ts <= view_ts + INTERVAL 10 MINUTES"), "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"),
        col("click_id"), col("view_ts"), col("click_ts"))
  }

  /** Stream-static enrichment: a streaming fact joined to a batch
    * dimension. The static side needs no watermark and no state — Spark
    * re-plans it per micro-batch (broadcast at dim size), the canonical
    * landing-zone enrichment shape. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), "user_id")

  /** Streaming face of the document-preprocessing pipeline: the same
    * COLUMN expressions the batch Preprocess uses (quality keep, PII
    * scrub digest, PII counts, sample membership) applied to a document
    * stream. Stateless narrow transforms need no watermark and no
    * state — each micro-batch is a pure projection, so the landing-zone
    * pattern (files arrive → scrub/score/stamp → append sink) runs at
    * ingest parallelism with zero stream-specific code in the
    * operators. Works identically over a batch frame (the test's
    * parity oracle). */
  def preprocessStream(docs: DataFrame): DataFrame = {
    import graft.operators.{Sampling, TextAnalysis}
    val t = col("text")
    // the PII counts + scrub digest come from ONE fused native scan
    // (pii_scan) — the stacked per-pattern regex battery this replaces
    // was the streaming hot path's bottleneck (1.4-2k docs/s vs the
    // 10k+ events/s of the stateful faces)
    val pii = piiScan(t)
    docs.select(col("doc_id"), col("lang"),
      TextAnalysis.gopherKeep(t).as("keep"),
      md5(pii.getField("redacted").cast("binary")).as("redacted_hash"),
      (pii.getField("n_urls") + pii.getField("n_emails") +
        pii.getField("n_ips") + pii.getField("n_phones")).as("n_pii"),
      (Sampling.bucket100(col("doc_id")) < 20).cast("long").as("in_sample"))
  }

  /** Streaming face of the bloom-prefiltered incremental dedup
    * (operators.Dedup.incremental): the petabyte-scale HISTORY
    * collapses ONCE into a bloom filter + exact-digest dim before the
    * stream starts; each arriving micro-batch is then a narrow
    * projection (bloom probe) plus a broadcast left-anti join for the
    * bloom-positive sliver. No streaming state at all — the history is
    * a static side, so there is no watermark to tune and re-delivered
    * batches re-classify identically (the landing-zone dedup shape:
    * new files in, never-seen documents out).
    *
    * The bloom ships as a materialized literal (collected once on the
    * driver, like the IVF quantizer) because a scalar subquery cannot
    * execute inside a streaming micro-batch plan. False positives cost
    * only a join probe; false negatives cannot happen, so output is
    * exactly the never-seen set. */
  def dedupDocStream(history: DataFrame, docs: DataFrame): DataFrame = {
    val bloomBytes = history
      .agg(bloomAgg(xxhash64(col("text")), 1000000L, 8000000L))
      .collect().head.getAs[Array[Byte]](0)
    val digests = history.select(md5(col("text")).as("h_digest")).distinct()
    // cold start: BloomFilterAggregate over an EMPTY history returns
    // NULL — bloom_might_contain(NULL, _) would be NULL and both filter
    // branches would drop every row. No history means nothing can be a
    // duplicate: skip the prefilter and rely on the (empty) exact
    // digest anti-join alone.
    val deduped =
      if (bloomBytes == null)
        docs.join(broadcast(digests), md5(col("text")) === col("h_digest"),
          "left_anti")
      else {
        val tagged = docs.withColumn("maybe_dup",
          bloomMightContain(lit(bloomBytes), xxhash64(col("text"))))
        tagged.filter(!col("maybe_dup"))
          .unionByName(tagged.filter(col("maybe_dup"))
            .join(broadcast(digests), md5(col("text")) === col("h_digest"),
              "left_anti"))
      }
    deduped.select(col("doc_id"), md5(col("text")).as("content_hash"))
  }

  /** Exactly-once file sink via foreachBatch: each micro-batch lands in
    * a `batch_id=N` directory written ONCE — a retried/replayed batch
    * (failure recovery re-runs the last epoch) sees its directory
    * already committed and skips, so downstream readers never observe
    * duplicates. This is the idempotent-sink half of exactly-once
    * (checkpointing provides the replay; the sink must make replays
    * no-ops). Readers get hive-style partition pruning on batch_id for
    * free. */
  /** The per-epoch commit body of [[idempotentSink]], visible so the
    * replay path is directly testable: the _SUCCESS marker is the
    * commit point — a half-written directory from a crashed attempt is
    * overwritten, a committed one is skipped untouched (re-running a
    * batch id is a no-op however different the replayed frame looks). */
  def commitBatch(batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                  id: Long, base: String): Unit = {
    val dir = new java.io.File(s"$base/batch_id=$id")
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      batch.write.mode("overwrite").parquet(dir.getPath)
    }
  }

  def idempotentSink(docs: DataFrame, base: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        commitBatch(batch, id, base)
      }
      .start()

  /** Streaming face of the cross-corpus NEAR-dup classifier
    * (operators.Dedup.nearDupCross) — the fuzzy sibling of
    * [[dedupDocStream]]: each arriving micro-batch of documents is
    * checked against the static HISTORY for MinHash-LSH
    * near-duplicates and the per-doc rollup lands in a `batch_id=N`
    * idempotent directory ([[commitBatch]] — replays are no-ops, so
    * the sink stays exactly-once). Runs through foreachBatch because
    * the verify-and-rollup is a per-batch aggregation, not a running
    * one: every batch is classified against the SAME frozen history,
    * so batch semantics inside the epoch are exactly the operator's
    * batch semantics — which is what the parity spec pins.
    *
    * At 100 TB the history's band table is staged once, partitioned by
    * band (the bm25Indexed pattern), and each epoch probes it instead
    * of re-hashing history — the frame passed as `history` here would
    * be that staged read. */
  def nearDupDocStream(s: SparkSession, history: DataFrame,
                       docs: DataFrame, base: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        commitBatch(graft.operators.Dedup.nearDupCross(s, history,
          batch.toDF()), id, base)
      }
      .start()

  // public: the state/row encoders construct these reflectively
  case class BandRow(band_bucket: String, doc_id: Long, sig: Seq[Long])
  case class BandMember(doc_id: Long, sig: Seq[Long])
  case class NearDupHit(doc_id: Long, dup_of: Long, band: Long,
                        agree16: Long)

  /** Per-band-bucket state for [[nearDupStream]]: the most recent
    * `capPerBucket` signatures seen in this bucket, insertion-ordered.
    * The cap is the DEDUP HORIZON: an arrival is compared against the
    * (at most `capPerBucket`) most recent members at batch start plus
    * the batch's own earlier arrivals; after each batch the list is
    * trimmed FIFO back to the cap, so for a forever-stream both the
    * per-bucket state and the O(|bucket|) per-arrival comparisons are
    * hard-bounded. A member older than the horizon is evicted and can
    * no longer match — exactly the near-dup-within-a-window contract
    * a production dedup runs (`Int.MaxValue` restores
    * dedup-against-everything, the batch LSH index's footprint). */
  class BandDedupProcessor(minAgree: Int, capPerBucket: Int)
      extends StatefulProcessor[String, BandRow, NearDupHit] {
    @transient private var seen: ListState[BandMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[BandMember]("seen",
        Encoders.product[BandMember], TTLConfig.NONE)

    override def handleInputRows(bucket: String, rows: Iterator[BandRow],
                                 tv: TimerValues): Iterator[NearDupHit] = {
      val band = bucket.takeWhile(_ != ':').toLong
      var out = List.empty[NearDupHit]
      // intra-batch arrivals process in doc_id order so replays and the
      // batch parity replay agree on who is "earlier"
      val fresh = rows.toSeq.sortBy(_.doc_id)
      // The per-arrival hot loop runs over PRIMITIVE sig arrays, not the
      // encoder's Seq[Long]: the previous sig.zip(...).count allocated a
      // tuple per minhash row per member pair and always walked all 16
      // rows. Unboxed arrays + a mismatch budget fix both — two random
      // signatures disagree on row 0 with overwhelming probability, so
      // the expected cost per non-duplicate pair is ~(16-minAgree)+1
      // primitive compares and zero allocation. `agreeOrNeg` is exact
      // (no fingerprinting), so hit semantics and the batch parity pin
      // are untouched.
      def agreeOrNeg(a: Array[Long], b: Array[Long]): Int = {
        val n = math.min(a.length, b.length) // zip-truncation semantics
        val maxMiss = n - minAgree // agree can still reach minAgree
        var miss = 0
        var agree = 0
        var i = 0
        while (i < n && miss <= maxMiss) {
          if (a(i) == b(i)) agree += 1 else miss += 1
          i += 1
        }
        if (miss > maxMiss) -1 else agree
      }
      // state list is insertion-ordered (oldest first); ≤ cap by the
      // end-of-batch trim invariant below. Materialized once per batch
      // as (doc_id, sig-array) pairs so the per-arrival scan touches no
      // boxed collections.
      var ids = seen.get().map(m => (m.doc_id, m.sig.toArray)).toBuffer
      fresh.foreach { r =>
        val sig = r.sig.toArray
        ids.foreach { case (mid, msig) =>
          val agree = agreeOrNeg(sig, msig)
          if (agree >= minAgree)
            out ::= NearDupHit(r.doc_id, mid, band, agree.toLong)
        }
        ids += ((r.doc_id, sig))
      }
      if (ids.length > capPerBucket)
        // horizon eviction: one bounded rewrite replaces the list with
        // its newest-cap suffix
        seen.put(ids.takeRight(capPerBucket)
          .map { case (id, s) => BandMember(id, s.toSeq) }.toArray)
      else
        // common case: append-only, no rewrite of the stored prefix
        fresh.foreach(r => seen.appendValue(BandMember(r.doc_id, r.sig)))
      out.reverseIterator
    }
  }

  /** WITHIN-STREAM near-duplicate detection — the stateful twin of
    * the batch `dedup_minhash_lsh` face, and the piece
    * [[nearDupDocStream]] (arrivals vs a STATIC history) cannot cover:
    * every arriving document is checked against ALL previously arrived
    * documents. The stateless head is the exact batch kernel
    * ([[graft.operators.Dedup.bandSignatureRows]]: 3-token shingles →
    * native 16-minima MinHash → 4 bands of 4), so stream and batch
    * bucket identically; the stream then keys by (band, band_key) and
    * keeps per-bucket signature lists as `transformWithState`
    * ListState — a hit is emitted when a new signature agrees with a
    * stored one on ≥ `minAgree`/16 rows (12/16 ≈ Jaccard 0.75). Hits
    * are CANDIDATE EDGES, at-least-once across bands (a pair sharing
    * two buckets emits per band, each row tagged with its band) —
    * exact-verify/cluster stays a downstream batch step, same as the
    * batch face.
    *
    * Scale: per-bucket state is the bucket's newest-`capPerBucket`
    * signature suffix (the dedup horizon — see
    * [[BandDedupProcessor]]), sharded by the state store; the
    * per-arrival cost is min(|bucket|, cap) signature comparisons —
    * the batch equi-join's candidate work, paid incrementally and
    * hard-bounded for a forever-stream. Parity with a driver replay
    * over the same arrival order, and the FIFO eviction contract at a
    * small cap, are pinned in EventStreamsSpec. */
  def nearDupStream(s: SparkSession, docs: DataFrame,
                    minAgree: Int = 12,
                    capPerBucket: Int = 4096): Dataset[NearDupHit] = {
    import s.implicits._
    graft.operators.Dedup.bandSignatureRows(docs)
      .select(concat_ws(":", col("band"), col("band_key"))
        .as("band_bucket"), col("doc_id"), col("sig"))
      .as[BandRow]
      .groupByKey(_.band_bucket)
      .transformWithState(new BandDedupProcessor(minAgree, capPerBucket),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming INDEX ingestion — the missing arrival half of the
    * BM25 LSM story (batch faces: text_bm25_incremental builds a
    * delta generation nightly, text_bm25_compacted rewrites; this is
    * the landing zone feeding them): every arriving document
    * micro-batch becomes its OWN postings generation directory via the
    * shared [[graft.operators.TextAnalysis.bm25BuildGen]] kernel, so a
    * streamed generation is bit-identical to a batch-built one over
    * the same rows, and `bm25QueryGens` serves queries over base ∪
    * streamed generations with zero rebuild. A `_done` marker commits
    * each generation AFTER its build (the overwrite-mode write plus
    * marker = crash-idempotent replays, same discipline as
    * [[commitBatch]]); the checkpoint dir makes batch ids stable
    * across restarts, so a replayed epoch rewrites the same directory
    * with the same bytes. */
  def bm25IngestStream(s: SparkSession, docs: DataFrame, base: String,
                       buckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val gen = new java.io.File(s"$base/gen_$id")
        if (!new java.io.File(gen, "_done").exists()) {
          graft.operators.TextAnalysis.bm25BuildGen(batch.toDF(),
            gen.getPath, buckets)
          new java.io.File(gen, "_done").createNewFile()
        }
        ()
      }
      .start()

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
                          event_type: String)
  case class Session(user_id: Long, n_events: Long, first_ts: Long,
                     last_ts: Long)
  // public: the state encoder's generated code constructs it reflectively
  case class SessionState(n: Long, first: Long, last: Long)

  /** Per-user sessionizer on the Spark 4 `transformWithState` API
    * (StatefulProcessor + typed ValueState — the successor of
    * mapGroupsWithState; requires the RocksDB state store provider).
    * A session = events separated by < `gapMs`; a session is emitted
    * when a later event of the same user breaks the gap. State per key is
    * three longs — constant-size regardless of session length, the
    * difference between "works" and "OOMs" for hot keys at 100 TB/day.
    */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessionEvent, Session] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
                                 tv: TimerValues): Iterator[Session] = {
      var closed = List.empty[Session]
      var cur = if (state.exists()) Some(state.get()) else None
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last < gapMs =>
            cur = Some(SessionState(s.n + 1, s.first, t))
          case Some(s) =>
            closed ::= Session(user, s.n, s.first, s.last)
            cur = Some(SessionState(1, t, t))
          case None =>
            cur = Some(SessionState(1, t, t))
        }
      }
      cur.foreach(state.update)
      closed.reverseIterator
    }
  }

  // minimal minute-count input: the anomaly stream needs only (type, ts)
  case class TypedTick(event_type: String, ts: java.sql.Timestamp)

  case class PurchaseEvent(user_id: Long, us: Long, cents: Long)
  // public: the state encoder's generated code constructs it reflectively
  case class RfmState(last_us: Long, frequency: Long, monetary_cents: Long)
  case class RfmUser(user_id: Long, last_us: Long, frequency: Long,
                     monetary_cents: Long)

  /** Streaming RFM state — the incremental half of the batch
    * operators.EventAnalytics.rfmScores: per-user (last purchase,
    * frequency, monetary cents) maintained as three longs of
    * transformWithState ValueState, updated per micro-batch and emitted
    * in Update mode. Money accumulates in integer CENTS so the stream
    * is exactly the batch decimal sum however the arrival order
    * interleaves. The quartile ranking stays a batch/serving-time layer
    * (EventAnalytics.rfmRank) — ntile is a whole-population rank no
    * per-key stream can maintain — and the parity test pins
    * rank(streamed state) == the full batch operator. */
  class RfmProcessor extends StatefulProcessor[Long, PurchaseEvent, RfmUser] {
    @transient private var state: ValueState[RfmState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RfmState]("rfm",
        Encoders.product[RfmState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[PurchaseEvent],
                                 tv: TimerValues): Iterator[RfmUser] = {
      var s = if (state.exists()) state.get() else RfmState(Long.MinValue, 0L, 0L)
      rows.foreach { e =>
        s = RfmState(math.max(s.last_us, e.us), s.frequency + 1,
          s.monetary_cents + e.cents)
      }
      state.update(s)
      Iterator.single(RfmUser(user, s.last_us, s.frequency, s.monetary_cents))
    }
  }

  def rfmStream(events: Dataset[PurchaseEvent]): Dataset[RfmUser] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RfmProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class EwmaEvent(user_id: Long, event_id: Long, us: Long, m: Long)
  // public: the state encoder's generated code constructs it reflectively
  case class EwmaBuf(ms: Seq[Long])
  case class EwmaOut(event_id: Long, user_id: Long, value_micros: Long,
                     ewma_micros: Long, spike: Long)

  /** Streaming twin of operators.EventAnalytics.ewmaSpikes: the same
    * 8-deep truncated EWMA maintained as a per-user ring buffer (≤ 8
    * longs of ValueState — constant-size per key). Within a micro-batch
    * rows sort by (us, event_id); across batches parity requires
    * per-user in-order arrival, the same contract as the sessionizer.
    * The fold order and HALF_UP rounding replicate the batch lag-fan
    * expression exactly, so stream ≡ batch bit-for-bit. */
  class EwmaProcessor extends StatefulProcessor[Long, EwmaEvent, EwmaOut] {
    @transient private var state: ValueState[EwmaBuf] = _
    private val wts = Iterator.iterate(1.0)(_ * 0.75).take(8).toSeq

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EwmaBuf]("ewma",
        Encoders.product[EwmaBuf], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[EwmaEvent],
                                 tv: TimerValues): Iterator[EwmaOut] = {
      var buf = if (state.exists()) state.get().ms else Seq.empty[Long]
      val out = rows.toSeq.sortBy(e => (e.us, e.event_id)).map { e =>
        buf = (e.m +: buf).take(8)
        var num = 0.0; var den = 0.0
        buf.indices.foreach { j =>
          num += wts(j) * buf(j).toDouble; den += wts(j)
        }
        val ew = BigDecimal(num / den)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        EwmaOut(e.event_id, user, e.m, ew, if (e.m > 2 * ew) 1L else 0L)
      }
      state.update(EwmaBuf(buf))
      out.iterator
    }
  }

  def ewmaStream(events: Dataset[EwmaEvent]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new EwmaProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  case class DayTick(user_id: Long, epoch_day: Long)
  // public: the state encoder's generated code constructs it reflectively
  case class StreakState(last_day: Long, cur_len: Long, cur_start: Long,
                         max_len: Long, max_start: Long, n_active: Long)
  case class StreakOut(user_id: Long, n_active_days: Long,
                       max_streak: Long, streak_start: Long)

  /** Streaming twin of operators.EventAnalytics.streaks: per-user
    * longest daily-activity streak maintained as six longs of
    * ValueState (constant per key — no day set ever materializes).
    * Day ticks must arrive in per-user nondecreasing order (the same
    * contract as the sessionizer); repeats of the current day are
    * no-ops, the next day extends, any jump resets. `max_start` only
    * moves on a STRICTLY longer streak, so the earliest-start
    * tie-break matches the batch operator exactly. Emitted in Update
    * mode; the parity test pins stream-final state == batch. */
  class StreakProcessor extends StatefulProcessor[Long, DayTick, StreakOut] {
    @transient private var state: ValueState[StreakState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StreakState]("streak",
        Encoders.product[StreakState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[DayTick],
                                 tv: TimerValues): Iterator[StreakOut] = {
      var s = if (state.exists()) state.get()
        else StreakState(Long.MinValue, 0L, 0L, 0L, 0L, 0L)
      rows.toSeq.sortBy(_.epoch_day).foreach { t =>
        val d = t.epoch_day
        if (d != s.last_day) {
          val (len, start) =
            if (d == s.last_day + 1) (s.cur_len + 1, s.cur_start)
            else (1L, d)
          val (mLen, mStart) =
            if (len > s.max_len) (len, start) else (s.max_len, s.max_start)
          s = StreakState(d, len, start, mLen, mStart, s.n_active + 1)
        }
      }
      state.update(s)
      Iterator.single(StreakOut(user, s.n_active, s.max_len, s.max_start))
    }
  }

  def streakStream(ticks: Dataset[DayTick]): Dataset[StreakOut] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.user_id)
      .transformWithState(new StreakProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  def sessionize(events: Dataset[SessionEvent],
                 gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    // TimeMode.None: sessions close on the next event past the gap, not
    // on wall-clock timers — and (critically) a micro-batch only runs
    // when data arrives, so drain-style triggers can quiesce. With
    // ProcessingTime timers every trigger has pending timer work and
    // processAllAvailable never returns.
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.None(), OutputMode.Append())
  }

  /** Sessionization via Spark's BUILT-IN `session_window` aggregation —
    * the declarative twin of [[sessionize]]'s transformWithState
    * processor, kept beside it deliberately: the built-in merges events
    * within `gapMs` of each other exactly like SessionProcessor's
    * `t − last < gap` rule, but closes sessions on the WATERMARK
    * passing session end (processor: on the next in-key event past the
    * gap), so the two faces bracket the API surface a user picks from.
    * EventStreamsSpec pins batch session_window ≡ the gaps-and-islands
    * SQL composition, and streamed rows ≡ the watermark-closed subset.
    * State is Spark-managed per (user, session) — bounded by the gap,
    * no custom state code. */
  def sessionizeBuiltin(events: Dataset[SessionEvent],
                        gapMs: Long = 30 * 60 * 1000L): DataFrame =
    events.toDF()
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMs milliseconds"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("first_ts"),
        col("last_ts"))

  case class CdcOp(key: Long, seq: Long, op: String, price: Option[Long])
  // public: the state encoder's generated code constructs it reflectively
  case class CdcState(firstOp: String, firstSeq: Long,
                      lastOp: String, lastSeq: Long,
                      lastPrice: Option[Long], priceSeq: Long,
                      nOps: Long)
  case class CdcNet(key: Long, n_ops: Long, net_op: String,
                    net_price: Option[Long])

  /** Streaming twin of operators.Relational.inc2CdcCollapse: the CDC
    * log arrives in micro-batches and each key's net effect is
    * maintained as constant-size ValueState (first/last op, last
    * image, op count) — the continuously-maintained MERGE input.
    * Within a batch rows fold in seq order; across batches the state
    * carries first/last exactly, so after the log drains the latest
    * emission per key is BIT-EQUAL to the batch cdcNet frame
    * (EventStreamsSpec pins it). Update mode: every batch re-emits
    * the keys it touched with their current net row. */
  class CdcProcessor extends StatefulProcessor[Long, CdcOp, CdcNet] {
    @transient private var state: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CdcState]("cdc",
        Encoders.product[CdcState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcOp],
                                 tv: TimerValues): Iterator[CdcNet] = {
      var st = if (state.exists()) state.get()
        else CdcState("", Long.MaxValue, "", Long.MinValue,
          None, Long.MinValue, 0L)
      // every facet is seq-guarded, so a lower-seq row arriving in a
      // later micro-batch folds identically to in-order delivery —
      // the invariant the batch-parity spec relies on
      rows.foreach { r =>
        val (firstOp, firstSeq) =
          if (r.seq < st.firstSeq) (r.op, r.seq)
          else (st.firstOp, st.firstSeq)
        val (lastOp, lastSeq) =
          if (r.seq >= st.lastSeq) (r.op, r.seq)
          else (st.lastOp, st.lastSeq)
        val (lastPrice, priceSeq) =
          if (r.price.isDefined && r.seq >= st.priceSeq) (r.price, r.seq)
          else (st.lastPrice, st.priceSeq)
        st = CdcState(firstOp, firstSeq, lastOp, lastSeq,
          lastPrice, priceSeq, st.nOps + 1)
      }
      state.update(st)
      val net =
        if (st.firstOp == "insert" && st.lastOp == "delete") "none"
        else if (st.firstOp == "insert") "insert"
        else if (st.lastOp == "delete") "delete"
        else "update"
      val price = if (st.lastOp == "delete") None else st.lastPrice
      Iterator.single(CdcNet(key, st.nOps, net, price))
    }
  }

  def cdcCollapseStream(ops: Dataset[CdcOp]): Dataset[CdcNet] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.key)
      .transformWithState(new CdcProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
