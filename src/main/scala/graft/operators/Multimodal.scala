package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Multimodal-column plumbing: media as opaque `binary` columns with a
  * typed metadata struct, plus a decode/feature-extract stage.
  *
  * The assets are REAL BMP images (valid BITMAPFILEHEADER +
  * BITMAPINFOHEADER, document bytes as the pixel payload — no pixel
  * codec is needed to decode dimensions), synthesized deterministically
  * so the oracle knows the expected metadata. The decode stage parses
  * width/height/payload out of the actual bytes — little-endian field
  * extraction composed from builtin functions (hex/unhex/conv), so the
  * whole encode→decode round-trip stays inside whole-stage codegen
  * with zero UDFs. The feature-extract stage is a narrow per-row
  * projection that partitions like any 100 TB binary-asset scan (no
  * shuffle, split by file ranges). Decoding richer codecs (JPEG/PNG
  * pixels, audio frames) slots in behind the same schema.
  */
object Multimodal {

  /** Little-endian uint32 from an int column, as 4 binary bytes. */
  private def le32(v: Column): Column = {
    val hx = lpad(hex(v.cast("int")), 8, "0")
    unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
      substring(hx, 3, 2), substring(hx, 1, 2)))
  }

  /** Read a little-endian uint32 at 1-based byte offset `off`. */
  private def rdLe32(b: Column, off: Int): Column = {
    val hx = hex(substring(b, off, 4))
    conv(concat(substring(hx, 7, 2), substring(hx, 5, 2),
      substring(hx, 3, 2), substring(hx, 1, 2)), 16, 10).cast("int")
  }

  /** A valid 54-byte BMP header (24bpp, BI_RGB) followed by `payload`
    * as the pixel array. */
  def bmpBytes(w: Column, h: Column, payload: Column): Column =
    concat(
      lit("BM").cast("binary"),                 // magic
      le32(length(payload) + 54),               // file size
      le32(lit(0)),                             // reserved
      le32(lit(54)),                            // pixel-array offset
      le32(lit(40)),                            // BITMAPINFOHEADER size
      le32(w), le32(h),                         // width, height
      unhex(lit("01001800")),                   // planes=1, bpp=24 (LE)
      le32(lit(0)),                             // BI_RGB
      le32(length(payload)),                    // image size
      le32(lit(2835)), le32(lit(2835)),         // 72 dpi
      le32(lit(0)), le32(lit(0)),               // palette
      payload)

  /** Manufacture a real BMP asset per document, then decode it: width /
    * height / payload size / digest all come from parsing the bytes,
    * not from trusting the metadata that produced them — the oracle
    * independently predicts the values from the synthesis rule, so a
    * broken encoder OR decoder fails the hash check. */
  def decodeFeatures(s: SparkSession, dir: String): DataFrame = {
    val asset = decodeAssets(s, dir)
    val payload = (b: Column) => b.substr(lit(55), length(b) - 54)
    asset.select(
      col("doc_id"),
      col("mime"),
      rdLe32(col("media_bytes"), 19).as("width"),
      rdLe32(col("media_bytes"), 23).as("height"),
      (length(col("media_bytes")) - 54).cast("long").as("n_bytes"),
      md5(payload(col("media_bytes"))).as("content_digest"),
      // "frame sampling": one frame per 64 payload bytes, ≥1. floor()
      // before the cast: Spark ANSI casts double→int by truncation but
      // other engines round-to-nearest, so make the floor explicit.
      greatest(lit(1L),
        floor((length(col("media_bytes")) - 54) / 64).cast("long"))
        .as("n_frames"))
  }

  /** Little-endian uint16 from an int column, as 2 binary bytes. */
  private def le16(v: Column): Column = {
    val hx = lpad(hex(v.cast("int")), 4, "0")
    unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
  }

  /** Read a little-endian uint16 at 1-based byte offset `off`. */
  private def rdLe16(b: Column, off: Int): Column = {
    val hx = hex(substring(b, off, 2))
    conv(concat(substring(hx, 3, 2), substring(hx, 1, 2)), 16, 10).cast("int")
  }

  /** A valid 44-byte RIFF/WAVE PCM header followed by `payload` as the
    * sample data. */
  def wavBytes(channels: Column, sampleRate: Column,
               payload: Column): Column = {
    val blockAlign = channels * 2 // 16-bit PCM
    concat(
      lit("RIFF").cast("binary"),
      le32(length(payload) + 36),               // chunk size
      lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"),
      le32(lit(16)),                            // fmt chunk size
      le16(lit(1)),                             // PCM
      le16(channels),
      le32(sampleRate),
      le32(sampleRate * blockAlign),            // byte rate
      le16(blockAlign),
      le16(lit(16)),                            // bits per sample
      lit("data").cast("binary"),
      le32(length(payload)),
      payload)
  }

  /** Audio twin of [[decodeFeatures]]: manufacture a real WAV asset per
    * document, then decode format/channels/rate/duration by parsing the
    * bytes — the oracle independently predicts every field from the
    * synthesis rule, so a broken encoder OR decoder fails the hash
    * check. Same scale shape: narrow per-row projection, no shuffle,
    * zero UDFs. */
  def audioFeatures(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val asset = d.select(
      col("doc_id"),
      wavBytes(
        (pmod(col("doc_id"), lit(2)) + 1).cast("int"),
        ((pmod(col("doc_id"), lit(3)) + 1) * 8000).cast("int"),
        col("text").cast("binary")).as("media_bytes"),
      lit("audio/wav").as("mime"))
    val b = col("media_bytes")
    val dataSize = rdLe32(b, 41).cast("long")
    val blockAlign = rdLe16(b, 33).cast("long")
    val byteRate = rdLe32(b, 29).cast("long")
    asset.select(
      col("doc_id"), col("mime"),
      rdLe16(b, 23).cast("long").as("channels"),
      rdLe32(b, 25).cast("long").as("sample_rate"),
      rdLe16(b, 35).cast("long").as("bits_per_sample"),
      dataSize.as("n_bytes"),
      floor(dataSize.cast("double") / blockAlign).cast("long")
        .as("n_samples"),
      floor(dataSize.cast("double") * 1000 / byteRate).cast("long")
        .as("duration_ms"),
      md5(b.substr(lit(45), length(b) - 44)).as("content_digest"))
  }

  /** Nearest-neighbor 2× downsample — the resize stage of the media
    * pipeline, done with real byte arithmetic: the BMP payload is
    * treated as an 8bpp row-major buffer (stride 16) and the output
    * keeps every 2nd byte of every 2nd row. Everything is substring
    * arithmetic + a higher-order fold over the output grid — a narrow
    * per-row projection, no shuffle, no UDFs; a real pixel codec slots
    * in behind the same decode→transform→digest shape. The oracle
    * recomputes the identical selection in DuckDB and compares the
    * digest of the resized buffer. */
  def resize(s: SparkSession, dir: String): DataFrame = {
    val asset = decodeAssets(s, dir)
    val strideIn = 16
    val outW = 8
    asset
      .select(col("doc_id"),
        substring(col("media_bytes"), 55, 1 << 24).cast("string").as("px"))
      .select(col("doc_id"), col("px"),
        // floor() before the cast: `/` is double division, and explicit
        // floor keeps the truncation engine-independent
        floor(length(col("px")) / strideIn).cast("long").as("in_h"))
      .select(col("doc_id"), col("px"), col("in_h"),
        floor((col("in_h") + 1) / 2).cast("long").as("out_h"))
      .select(col("doc_id"),
        lit(strideIn.toLong).as("in_w"), col("in_h"),
        lit(outW.toLong).as("out_w"), col("out_h"),
        md5(when(col("out_h") > 0,
          concat_ws("", flatten(transform(sequence(lit(0L), col("out_h") - 1),
            y => transform(sequence(lit(0), lit(outW - 1)),
              x => col("px").substr(
                (y * 2 * strideIn + x * 2 + 1).cast("int"), lit(1)))))))
          .otherwise(lit(""))).as("resized_digest"))
  }

  /** The BMP asset frame shared by [[decodeFeatures]] and [[resize]]. */
  private def decodeAssets(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(
      col("doc_id"),
      bmpBytes(
        (pmod(col("doc_id"), lit(8)) * 64 + 64).cast("int"),
        (pmod(col("doc_id"), lit(5)) * 64 + 64).cast("int"),
        col("text").cast("binary")).as("media_bytes"),
      lit("image/bmp").as("mime"))
  }

  /** Per-image pixel statistics from the REAL asset bytes: the decoded
    * BMP payload is profiled byte-wise (mean / min / max / a dark-pixel
    * fraction) — the luminance-stats stage of an image-curation
    * pipeline, composed entirely from substring arithmetic + one
    * higher-order fold per row. Narrow projection, no shuffle, no UDFs;
    * the oracle predicts every value from the synthesis rule alone, so
    * a corrupted encode OR decode path fails the hash check. Mean
    * accumulates as exact integer byte sums (order-free). */
  def pixelStats(s: SparkSession, dir: String): DataFrame = {
    val asset = decodeAssets(s, dir)
    asset
      .select(col("doc_id"),
        substring(col("media_bytes"), 55, 1 << 24).cast("string").as("px"))
      .select(col("doc_id"),
        transform(sequence(lit(1), length(col("px"))),
          i => ascii(col("px").substr(i, lit(1)))).as("bytes"))
      .select(col("doc_id"),
        size(col("bytes")).cast("long").as("n_px"),
        round(aggregate(col("bytes"), lit(0L), (acc, x) => acc + x)
          .cast("double") / size(col("bytes")), 4).as("px_mean"),
        array_min(col("bytes")).cast("long").as("px_min"),
        array_max(col("bytes")).cast("long").as("px_max"),
        round(size(filter(col("bytes"), x => x < 64)).cast("double") /
          size(col("bytes")), 4).as("dark_frac"))
  }

  /** Resolution / aspect-ratio profile of the decoded assets — the
    * first report a vision-curation pipeline reads before fixing a
    * resize policy (which buckets dominate decides letterbox vs crop;
    * an unexpected bucket flags a scraper pulling thumbnails): per
    * (width, height) decoded FROM THE BYTES (never trusted metadata),
    * the asset count and the micro-quantized aspect ratio.
    *
    * Scale shape: the header parse is a narrow codegen'd byte
    * projection; one (w, h) aggregation, grid-bounded output. */
  def aspectProfile(s: SparkSession, dir: String): DataFrame = {
    decodeFeatures(s, dir)
      .groupBy(col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .agg(count(lit(1)).as("n_assets"))
      .select(col("width"), col("height"), col("n_assets"),
        round(lit(1e6) * col("width").cast("double") /
          col("height").cast("double")).cast("long")
          .as("aspect_micros"))
  }

  /** Per-image pixel-intensity histogram (16 bins) — the channel-
    * statistics stage a vision pipeline runs before normalization /
    * augmentation (a collapsed histogram flags dead assets; a shifted
    * one flags exposure drift). [[pixelStats]] gives the moments, this
    * gives the SHAPE. The pixel string materializes once (eager
    * checkpoint of the capped asset slice) so the per-byte explode
    * reads an attribute, never re-decodes the asset per element.
    *
    * Scale shape: the explode is row-local fan-out (one row per byte,
    * the frame-sample pattern); the histogram aggregation is map-side
    * combined to ≤16 bins per doc. All-integer. */
  def pixelHistogram(s: SparkSession, dir: String): DataFrame = {
    val px = decodeAssets(s, dir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"),
        substring(col("media_bytes"), 55, 1 << 24).cast("string").as("px"))
      // sequence(1, 0) would DESCEND ([1, 0]) for an empty payload and
      // emit two phantom bin-0 rows the oracle doesn't have
      .filter(length(col("px")) > 0)
      .localCheckpoint(true)
    px.select(col("doc_id"), col("px"),
        explode(sequence(lit(1), length(col("px")))).as("i"))
      .select(col("doc_id"),
        expr("ascii(substr(px, i, 1)) DIV 16").as("bin"))
      .groupBy(col("doc_id"), col("bin"))
      .agg(count(lit(1)).as("n_px"))
  }

  /** Frame-sample explode: the per-frame fan-out stage (1 row per
    * frame, capped) — the shape of video-frame extraction at scale,
    * where the explode multiplies rows before a repartition feeds the
    * GPU/feature stage. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    val f = decodeFeatures(s, dir).filter(col("doc_id") < 20)
    f.select(col("doc_id"),
        explode(sequence(lit(0), least(col("n_frames") - 1, lit(7))))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("doc_id").cast("string"), lit("#"),
          col("frame_idx").cast("string"))).as("frame_digest"))
  }

  /** Shot-boundary detection over the sampled frame stream: a cut is a
    * frame whose luma jumps more than 0.5 from its predecessor. The
    * per-frame luma here is the deterministic stand-in the multimodal
    * stubs use for the codec step (md5-60 of doc#frame, scaled to
    * [0, 1e6) micros) — the Spark-side plumbing (frame explode, per-doc
    * ordered lag, boundary fold) is the real shape a video pipeline
    * runs, and a real decoder would only replace the luma expression.
    *
    * Scale shape: frames explode row-locally; one shuffle partitions by
    * doc for the lag pass; the per-doc aggregate is map-side combined.
    * All-integer arithmetic. */
  def shotBounds(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    decodeFeatures(s, dir).filter(col("doc_id") < 20)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
      .withColumn("luma",
        pmod(md5Base60(
          concat(col("doc_id").cast("string"), lit("#"),
            col("frame_idx").cast("string"))), lit(1000000L)))
      .withColumn("prev", lag(col("luma"), 1).over(w))
      .withColumn("cut",
        (col("prev").isNotNull &&
          abs(col("luma") - col("prev")) > 500000L).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        (sum(col("cut")) + 1L).as("n_shots"),
        min(when(col("cut") === 1L, col("frame_idx"))).as("first_cut_idx"))
  }

  /** Perceptual-hash (dHash) near-duplicate image pairs — the visual
    * twin of text SimHash dedup: a 6×11 luma grid per image reduces to
    * a 60-bit gradient hash (bit k = luma(r,c) > luma(r,c+1)),
    * candidates pair through 4×15-bit band buckets, and survivors
    * verify with exact bit_count(xor) hamming ≤ `maxHamming`. The luma
    * is the multimodal stubs' deterministic decode stand-in (the
    * frame-digest convention of [[frameSample]]): every run of 7
    * doc_ids shares a planted base image (md5 of doc_id div 7 per
    * cell) and each member perturbs a few cells by +3 — re-encodes of
    * the same image with pixel noise, which the gradient hash absorbs
    * (a ±3 luma wiggle rarely flips an adjacent-cell comparison, the
    * dHash robustness property). A real decoder would replace only
    * the 66 luma expressions; grid, packing, banding, and verify are
    * the production pipeline shape, and the planted groups come out
    * bimodal: members at hamming ≤ 6, non-members ≥ ~19.
    *
    * Scale shape: the hash is one narrow codegen'd projection (66 md5
    * kernels + 60 compares per row, zero UDFs); candidates come from a
    * bucketed equi-join on (band, value) — never all-pairs — and only
    * (doc_id, phash) longs shuffle; the same banded architecture as
    * Dedup.simhashPairs (Dedup.scala:408), applied to the binary
    * modality. */
  def phashPairs(s: SparkSession, dir: String,
                 maxHamming: Int = 6): DataFrame = {
    def luma(i: Int) =
      pmod(md5Base60(
        concat(expr("doc_id div 7").cast("string"), lit(s"#$i"))) +
        when(lit(i % 9) === col("doc_id") % 7, lit(3L)).otherwise(lit(0L)),
        lit(256L))
    val phash = (for { r <- 0 until 6; c <- 0 until 10 } yield
      when(luma(r * 11 + c) > luma(r * 11 + c + 1),
        lit(1L << (r * 10 + c))).otherwise(lit(0L)))
      .reduce(_ + _)
    // checkpointed: the banded self-join references this frame on BOTH
    // sides — each reference re-ran the 66-md5 grid per row (132
    // kernels/row); one evaluation, 16-byte rows joined twice
    val ph = Tables.documents(s, dir)
      .select(col("doc_id"), phash.as("phash"))
      .localCheckpoint(true)
    val bands = ph.select(col("doc_id"), col("phash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("phash"), 15 * b).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band", "bval")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bval") === col("y.bval") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.phash").as("ha"), col("y.phash").as("hb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** `mm9_silence` — frame-level energy profile + silence-span
    * detection over the WAV asset's PCM payload (the voice-activity /
    * dead-air gate of an audio-curation pipeline): the payload after
    * the 44-byte RIFF header is framed into 64-byte windows, each
    * frame's energy is the exact integer Σ|byte − 32|, a frame is
    * SILENT when its energy is strictly below the doc's own mean
    * (self-normalizing — no corpus-tuned threshold to drift), and
    * silent runs collapse via gaps-and-islands into the longest-span
    * and run-count report. Approximate ms ride the synthesized sample
    * rate (integer floor of 64·1000/byte-rate per frame).
    *
    * Like the rest of the mm family the decode is real byte
    * arithmetic on a synthesized asset: the oracle re-frames the raw
    * text (≡ the payload by the synthesis rule), so a broken encoder
    * OR framing fails the hash check.
    *
    * Scale shape: frames explode linearly (n_bytes/64 per asset);
    * both windows partition by doc_id — one shuffle keyed by asset,
    * then a doc-sized rollup. Energies come from the native codegen'd
    * `frame_energies` kernel ([[graft.functions.FrameEnergyImpl]], one
    * fused O(bytes) pass per asset) — the nested
    * `transform(sequence)/aggregate` HOF fold it replaced ran
    * interpreted (Spark HOFs are CodegenFallback, the repo's round-3
    * finding) and allocated a 64-element array per frame. */
  def mm9Silence(s: SparkSession, dir: String, flen: Int = 64)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val asset = d.select(col("doc_id"),
      wavBytes(
        (pmod(col("doc_id"), lit(2)) + 1).cast("int"),
        ((pmod(col("doc_id"), lit(3)) + 1) * 8000).cast("int"),
        col("text").cast("binary")).as("media_bytes"))
    val payload = substring(col("media_bytes"), 45, 1 << 24)
      .cast("string")
    val frames = asset
      .select(col("doc_id"), payload.as("px"),
        rdLe32(col("media_bytes"), 29).cast("long").as("byte_rate"))
      .select(col("doc_id"), col("px"), col("byte_rate"),
        floor(length(col("px")).cast("double") / flen).cast("long")
          .as("nf"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), col("byte_rate"),
        posexplode(frameEnergies(col("px"), flen)))
      .select(col("doc_id"), col("byte_rate"),
        col("pos").cast("long").as("fidx"), col("col").as("energy"))
    val wd = Window.partitionBy(col("doc_id"))
    val flagged = frames
      .withColumn("total", sum(col("energy")).over(wd))
      .withColumn("nf", count(lit(1)).over(wd))
      .withColumn("silent",
        (col("energy") * col("nf") < col("total")).cast("long"))
    val runs = flagged.filter(col("silent") === 1L)
      .withColumn("rid", col("fidx") -
        row_number().over(wd.orderBy(col("fidx"))))
      .groupBy(col("doc_id"), col("rid"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).as("longest"), count(lit(1)).as("nr"))
    flagged.groupBy(col("doc_id"), col("byte_rate"))
      .agg(count(lit(1)).as("n_frames"), sum(col("silent")).as("n_silent"),
        sum(col("energy")).as("total_energy"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"), col("n_silent"),
        col("total_energy"),
        coalesce(col("longest"), lit(0L)).as("longest_silence_frames"),
        coalesce(col("nr"), lit(0L)).as("n_silent_runs"),
        // multiply BEFORE the integer floor: the per-frame quotient
        // floors to 0 whenever byte_rate > frame-bytes·1000 (the
        // 24 kHz stereo docs), losing every real silent span
        expr(s"(n_silent * ${flen}000) DIV byte_rate")
          .as("silence_ms"))
  }
}
