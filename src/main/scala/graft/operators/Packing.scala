package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Sequence packing and chunking — the two layout transforms between a
  * cleaned corpus and a training/retrieval system:
  *
  *  - [[packSequences]]: concat-and-chunk packing, the standard LLM
  *    pretraining layout (concatenate the shard's token stream, cut it
  *    every `budget` tokens).
  *  - [[ragChunks]]: overlapping fixed-width token windows, the
  *    standard RAG/embedding ingestion layout.
  *
  * Both are deterministic (no RNG) so any engine reproduces them
  * bit-for-bit — layout steps sit at the end of a pipeline where
  * "which training sequence did this doc land in" must be auditable.
  */
object Packing {

  /** Concat-and-chunk sequence packing, per source shard.
    *
    * Docs are laid out in doc_id order within their `source`; a doc's
    * sequence is `floor(tokens-before-it / budget)`. Output is the
    * per-sequence manifest: doc count, token count, doc-id range, and
    * whether the sequence's last doc spills into the next sequence.
    *
    * Scale shape: the only wide operation is one shuffle on `source` —
    * packing is per-shard by construction (exactly how production
    * pretraining layouts pack: each input shard becomes its own
    * sequence stream, embarrassingly parallel across shards). There is
    * NO global sort: the window orders doc_id within a shard partition.
    * At 100 TB with skewed shards you'd salt by (source, doc_id-range)
    * blocks; the per-shard stream keeps that a local split decision.
    */
  def packSequences(s: SparkSession, dir: String, budget: Int = 256): DataFrame = {
    val d = Tables.documents(s, dir)
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("n_tokens"))
      .withColumn("cum_prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("cum_prev") / lit(budget.toLong)))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        max((col("cum_prev") + col("n_tokens") >
          (col("seq_id") + 1) * budget).cast("long")).as("spans_next"))
  }

  /** `pack2_length_buckets` — length-bucketed batching with
    * padding-waste accounting, the dynamic-batching layout between
    * cleaning and training: documents are split into `buckets`
    * length-quantile buckets, each bucket forms fixed-`batch`-doc
    * batches in (length, doc_id) order, and every batch pads its
    * members to its own max length. Reports per bucket: doc/batch
    * counts, real vs padded token totals and the waste share — plus
    * the headline riding along (the tok10 totals convention): padded
    * totals bucketed vs NAIVE batching (fixed batches in arrival
    * doc_id order, the no-layout default every training loader starts
    * from), i.e. what length-bucketing saves. All integer arithmetic;
    * ties pin on doc_id.
    *
    * Scale shape: the token count is a narrow per-row projection; the
    * quantile split and batch ranks both derive from ONE scalable
    * exact global rank ([[Ranking.withGlobalRank]] — range partitions
    * + offset broadcast, no single-partition window) via closed-form
    * ntile arithmetic, bit-identical to the window form they replaced;
    * the rollups are map-side-combinable; totals are 1-row
    * broadcasts. */
  def lengthBuckets(s: SparkSession, dir: String, buckets: Int = 8,
                    batch: Int = 32): DataFrame = {
    // checkpointed: the range-rank's sampling pass and shuffle would
    // otherwise each re-run the tokenization, for both the bucketed
    // and the naive-baseline rank
    val d = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(lower(col("text")))).cast("long").as("len"))
      .localCheckpoint(true)
    // per-(bucket, batch) padded/actual token counts at a bucket count.
    // One scalable global rank (Ranking.withGlobalRank — range
    // partitions + offset broadcast, no single-partition sort) yields
    // BOTH the ntile bucket (closed-form ntileOfRank) and the
    // rank-within-bucket (rank − tileStart + 1), replacing the global
    // ntile window AND the second partitioned row_number — bit-equal
    // because (len, doc_id) is totally tie-broken.
    def batches(nb: Int): DataFrame =
      Ranking.withGlobalRank(d, "rn", "n_total",
          Seq(col("len").asc, col("doc_id").asc))
        .withColumn("bucket",
          Ranking.ntileOfRank(col("rn"), col("n_total"), nb))
        .withColumn("rk", col("rn") -
          Ranking.tileStart(col("bucket"), col("n_total"), nb) + lit(1L))
        .withColumn("batch_id", expr(s"(rk - 1) div $batch"))
        .groupBy(col("bucket"), col("batch_id"))
        .agg(count(lit(1)).as("n"), sum(col("len")).as("sum_len"),
          (max(col("len")) * count(lit(1))).as("padded"))
    val b = batches(buckets)
    val perBucket = b.groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_batches"),
        sum(col("sum_len")).as("sum_tokens"),
        sum(col("padded")).as("padded_tokens"))
    val tot = broadcast(b.agg(sum(col("padded")).as("padded_total")))
    // naive baseline: fixed batches in ARRIVAL (doc_id) order — no
    // length layout at all (a length-sorted single bucket would be
    // OPTIMAL batching, not a baseline)
    val naive = broadcast(
      Ranking.withGlobalRank(d, "rk", "n_total", Seq(col("doc_id").asc))
        .withColumn("batch_id", expr(s"(rk - 1) div $batch"))
        .groupBy(col("batch_id"))
        .agg((max(col("len")) * count(lit(1))).as("padded"))
        .agg(sum(col("padded")).as("padded_naive_total")))
    perBucket
      .select(col("bucket"), col("n_docs"), col("n_batches"),
        col("sum_tokens"), col("padded_tokens"),
        expr("(1000000 * (padded_tokens - sum_tokens)) DIV padded_tokens")
          .as("waste_micros"))
      .crossJoin(tot).crossJoin(naive)
      .select(col("bucket"), col("n_docs"), col("n_batches"),
        col("sum_tokens"), col("padded_tokens"), col("waste_micros"),
        col("padded_total"), col("padded_naive_total"),
        expr("(1000000 * (padded_naive_total - padded_total)) DIV " +
          "padded_naive_total").as("bucketing_savings_micros"))
  }

  /** `pack3_fim` — fill-in-the-middle (FIM) training transform
    * (Bavarian et al. 2022, "Efficient Training of Language Models to
    * Fill in the Middle"): for a deterministic ~`ratePct`% of
    * documents, two cut points split the token stream into (prefix,
    * middle, suffix) and the document is re-serialized in PSM order —
    * prefix, suffix, middle — behind sentinel tokens, teaching the
    * model to infill; the rest pass through unchanged. Cut points and
    * the apply-coin are md5-derived pure functions of doc_id (the
    * sampling-coin convention), so the exact same split reproduces on
    * any engine, any re-run, any backfill — auditability a random FIM
    * pass lacks. Emits the per-doc manifest: segment token counts and
    * the md5 digest of the re-serialized PSM text (so a broken slice
    * OR reorder fails the hash check).
    *
    * Scale shape: a pure narrow projection — md5 coin, two integer
    * mods, three `slice`s of the once-computed token attribute, one
    * digest; zero shuffles, zero RNG state, whole row-pipeline. */
  def fimTransform(s: SparkSession, dir: String,
                   ratePct: Int = 50): DataFrame = {
    def h(tag: String): Column = md5Base60(
      concat(lit(tag), col("doc_id").cast("string")))
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"), col("tk"),
        size(col("tk")).cast("long").as("n"))
    val applied = pmod(h("fimr:"), lit(100L)) < ratePct && col("n") >= 3L
    val c1 = pmod(h("fim1:"), col("n") + 1L)
    val c2 = pmod(h("fim2:"), col("n") + 1L)
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val pre = slice(col("tk"), lit(1), lo.cast("int"))
    val mid = slice(col("tk"), (lo + 1L).cast("int"), (hi - lo).cast("int"))
    val suf = slice(col("tk"), (hi + 1L).cast("int"), (col("n") - hi).cast("int"))
    val psm = concat_ws(" ", lit("<PRE>"), concat_ws(" ", pre),
      lit("<SUF>"), concat_ws(" ", suf), lit("<MID>"), concat_ws(" ", mid))
    d.select(col("doc_id"), col("n").as("n_tokens"),
      applied.cast("long").as("fim_applied"),
      when(applied, lo).otherwise(col("n")).as("n_prefix"),
      when(applied, hi - lo).otherwise(0L).as("n_middle"),
      when(applied, col("n") - hi).otherwise(0L).as("n_suffix"),
      md5(when(applied, psm).otherwise(concat_ws(" ", col("tk")))
        .cast("binary")).as("psm_digest"))
  }

  /** Z-order (Morton) clustering blocks — the multi-dimensional data-
    * layout primitive behind Delta/Iceberg `OPTIMIZE ZORDER BY`: rows
    * whose 16-bit (x, y) coordinates interleave to nearby Z-values are
    * co-located, so range predicates on EITHER dimension touch few
    * blocks. Emitted per block (top bits of the Z-value): row count and
    * the x/y bounding box — tight boxes are the measurable layout
    * quality a file skipper exploits.
    *
    * The interleave is 32 statically-unrolled shift/mask terms, not a
    * higher-order fold: plain integer arithmetic stays inside
    * whole-stage codegen (HOF lambdas are interpreted per element —
    * the round-3 lesson). One groupBy on the block id is the only
    * shuffle; at 100 TB the same Z-value feeds repartitionByRange to
    * actually lay the files out. */
  def zorderBlocks(s: SparkSession, dir: String, blockBits: Int = 6): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def interleave(x: Column, y: Column): Column =
      (0 until 16).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
    // quantize each dimension onto the 16-bit grid by its own range —
    // what a layout optimizer's range-boundary pass does; keys used
    // raw would leave high bits dead at small key ranges and collapse
    // every row into one block. Quantization is exact in doubles
    // (values ≪ 2^53), floor matches on every engine.
    val keys = li.select(col("l_orderkey").as("x"), col("l_partkey").as("y"))
    val maxes = keys.agg(max(col("x")).as("x_max"), max(col("y")).as("y_max"))
    def quant(c: Column, m: Column): Column =
      floor(c.cast("double") * 65535d / m).cast("long")
    keys.crossJoin(broadcast(maxes))
      .select(quant(col("x"), col("x_max")).as("x"),
        quant(col("y"), col("y_max")).as("y"))
      .withColumn("z", interleave(col("x"), col("y")))
      .groupBy(shiftright(col("z"), 32 - blockBits).as("z_block"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }

  /** Hilbert-curve clustering blocks — [[zorderBlocks]]' locality-
    * superior sibling (the layout behind Databricks liquid clustering:
    * the Hilbert curve never makes the long diagonal jumps Morton
    * order does, so block bounding boxes are tighter and range
    * predicates skip more files). The xy→d transform is the classic
    * reflection/rotation recurrence (Hilbert 1891; the standard
    * iterative formulation) over the same 16-bit quantized grid as
    * zorder1, computed by the native codegen'd `hilbert_key` kernel
    * (graft.functions.HilbertImpl) — the recurrence's per-bit state is
    * inherently sequential, and a 33-projection column-chain form of
    * it cost 4.2 s warm at sf0.1 where the fused per-row loop is one
    * pass. Same block rollup and bounding-box contract as zorder1, so
    * the two layouts' box tightness is directly comparable.
    *
    * Scale shape: identical to zorder1 — narrow per-row arithmetic,
    * ONE groupBy on the block id; at 100 TB the same Hilbert key
    * feeds repartitionByRange for the physical layout. */
  def hilbertBlocks(s: SparkSession, dir: String,
                    blockBits: Int = 6): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val keys = li.select(col("l_orderkey").as("x"), col("l_partkey").as("y"))
    val maxes = keys.agg(max(col("x")).as("x_max"), max(col("y")).as("y_max"))
    def quant(c: Column, m: Column): Column =
      floor(c.cast("double") * 65535d / m).cast("long")
    keys.crossJoin(broadcast(maxes))
      .select(quant(col("x"), col("x_max")).as("x"),
        quant(col("y"), col("y_max")).as("y"))
      .withColumn("hd", hilbertKey(col("x"), col("y")))
      .groupBy(shiftright(col("hd"), 32 - blockBits).as("h_block"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
  }

  /** Overlapping token chunks: windows of `width` tokens starting every
    * `stride` tokens (start < n_tokens), the retrieval-ingestion
    * layout. Emits one row per chunk with a content digest.
    *
    * Scale shape: tokenization happens ONCE into a real attribute via a
    * separate select (a lambda over a non-attribute subtree re-evaluates
    * it per element — the round-3 quadratic-retokenization lesson), the
    * chunk fan-out is a narrow posexplode (no shuffle anywhere), and
    * only the digest — not the chunk text — leaves the projection.
    */
  def ragChunks(s: SparkSession, dir: String,
                width: Int = 64, stride: Int = 48): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"),
      TextAnalysis.tokens(lower(col("text"))).as("tk"))
    val nChunks = floor((size(col("tk")) + stride - 1) / lit(stride.toDouble))
      .cast("int")
    toks
      .select(col("doc_id"), col("tk"), greatest(nChunks, lit(1)).as("n_chunks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => slice(col("tk"), i * stride + 1, lit(width)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        size(col("col")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("col")).cast("binary")).as("chunk_digest"))
  }

  /** Content-defined chunking (rolling-hash boundaries à la
    * FastCDC/rsync): a boundary falls AFTER character position i
    * wherever the hash of the trailing 8-char window ≡ 0 (mod 64) —
    * so an insertion early in a document only reshuffles chunks up to
    * the next boundary, where [[ragChunks]]'s fixed stride would shift
    * every downstream chunk. Window hash is the repo's md5-60 kernel
    * (portable to the oracle bit-for-bit; a production gear-hash swaps
    * in without changing any plumbing). Emits (doc_id, chunk_idx,
    * start_pos, end_pos, chunk_len, chunk_md5); expected chunk length
    * is the 64-char modulus.
    *
    * Scale shape: entirely row-local — boundary positions come from
    * the native codegen'd `cdc_boundaries` kernel
    * ([[graft.functions.CdcImpl.boundaries]], one O(len) pass per
    * doc), spans from an array zip, the fan-out a narrow posexplode;
    * zero shuffles, and only digests leave the projection. Docs
    * shorter than the 8-char window emit one whole-doc chunk. */
  def cdcChunks(s: SparkSession, dir: String, mod: Int = 64): DataFrame =
    cdcChunksOf(Tables.documents(s, dir), mod)

  /** [[cdcChunks]] over any (doc_id, text) frame — the reusable face
    * (and what the insertion-stability spec drives with synthetic
    * edits). */
  def cdcChunksOf(docs: DataFrame, mod: Int = 64): DataFrame = {
    val n = length(col("text"))
    // native one-pass window scan (walks char offsets once, hashes
    // each 8-char window's byte slice in place) — bit-equal to the
    // HOF filter `pmod(hash60(substr(i-7, 8)), mod) = 0` it replaced,
    // which allocated a substring + interpreted lambda per POSITION
    val boundaries = cdcBoundaries(col("text"), mod)
    docs
      .select(col("doc_id"), col("text"),
        array_union(boundaries, array(n)).as("ends"))
      .select(col("doc_id"), col("text"), col("ends"),
        concat(array(lit(0)),
          slice(col("ends"), lit(1), size(col("ends")) - 1)).as("starts"))
      .select(col("doc_id"), col("text"),
        posexplode(zip_with(col("starts"), col("ends"),
          (a, b) => struct(a.as("s"), b.as("e")))))
      .filter(col("col.e") > col("col.s"))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col.s").cast("long").as("start_pos"),
        col("col.e").cast("long").as("end_pos"),
        (col("col.e") - col("col.s")).cast("long").as("chunk_len"),
        md5(col("text").substr(col("col.s") + 1, col("col.e") - col("col.s"))
          .cast("binary")).as("chunk_md5"))
  }

  /** `chunk3_cdc_dedup` — cross-document CHUNK-level deduplication,
    * the operation content-defined chunking exists FOR (rsync/LBFS/
    * data-domain dedup, and sub-document dedup in training corpora): a
    * boilerplate paragraph pasted into many documents dedups at the
    * chunk granularity even when every containing document is unique,
    * because CDC boundaries re-align after any insertion. Reports the
    * topK most-repeated chunks (digest, length, occurrence and
    * distinct-doc counts, bytes saved by storing one copy) with the
    * corpus totals riding along (the tok10 convention): total chunk
    * count, unique chunk count, and the total dedup savings.
    *
    * Scale shape: [[cdcChunks]] emits digests + lengths only (text
    * never leaves the per-document projection), the rollup is one
    * map-side-combinable groupBy on the 32-char digest, totals are a
    * 1-row broadcast, and the topK is TakeOrderedAndProject — nothing
    * bigger than the unique-chunk domain ever shuffles. Ties at the
    * topK boundary pin on (n_occurrences desc, chunk_md5 asc). */
  def cdcDedup(s: SparkSession, dir: String, mod: Int = 64,
               topK: Int = 15): DataFrame = {
    val g = cdcChunks(s, dir, mod)
      .select(col("chunk_md5"), col("chunk_len"), col("doc_id"))
      .groupBy(col("chunk_md5"))
      .agg(max(col("chunk_len")).as("chunk_len"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(col("chunk_md5"), col("chunk_len"), col("n_occurrences"),
        col("n_docs"),
        ((col("n_occurrences") - 1L) * col("chunk_len")).as("saved_bytes"))
    val totals = broadcast(g.agg(
      sum(col("n_occurrences")).as("n_chunks"),
      count(lit(1)).as("n_unique_chunks"),
      sum(col("saved_bytes")).as("total_saved_bytes")))
    g.filter(col("n_occurrences") > 1L)
      .orderBy(col("n_occurrences").desc, col("chunk_md5").asc)
      .limit(topK)
      .crossJoin(totals)
  }

  /** `pack4_binpack` — sharded best-fit-decreasing token bin packing
    * (Johnson 1973's BFD, the 11/9·OPT classic), the layout most
    * production pretraining pipelines use to fill fixed-`capacity`
    * context windows with whole documents: within each shard, docs are
    * taken longest-first and each goes into the FULLEST already-open
    * bin it still fits (ties → earliest-opened bin), else opens a new
    * bin. pack2's fixed 32-doc batches pad to the batch max; BFD packs
    * variable doc counts per bin, so the waste accounting here is
    * capacity residue (Σ max(0, C − load)), not padding.
    *
    * Scale shape: global BFD is inherently sequential with
    * corpus-sized state (the open-bin table grows with tokens/C), so
    * the scale unit is the SHARD — an exact ntile split on
    * (len desc, doc_id) computed scalably ([[Ranking.withGlobalRank]]
    * + closed-form tile arithmetic, no single-partition window; at
    * 100 TB shards = partitions).
    * Each shard packs independently inside one `mapGroups` task —
    * genuinely imperative per-group logic, the documented exception to
    * expression-only operators — holding shard-sized state; parallelism
    * is the shard count. The DuckDB oracle replays the IDENTICAL
    * algorithm as a recursive CTE over per-shard doc ranks carrying the
    * open-bin load list as a LIST column (list_filter/list_aggregate
    * pick the best bin, list_slice splices the update — every slice
    * coalesced: empty-range list_slice is NULL, not []).
    *
    * All-integer outputs; per-shard rows with corpus totals riding
    * along (the tok10 totals convention). */
  def binPack(s: SparkSession, dir: String, shards: Int = 8,
              capacity: Long = 256L): DataFrame = {
    import s.implicits._
    // shard split: scalable exact ntile (global rank via range
    // partitions + closed-form tile arithmetic — no single-partition
    // window; bit-equal, (len desc, doc_id) is totally tie-broken)
    val d = Ranking.withGlobalRank(
        Tables.documents(s, dir).select(col("doc_id"),
          size(TextAnalysis.tokens(lower(col("text"))))
            .cast("long").as("len"))
          .localCheckpoint(true), // tokenize once, not per rank job
        "rn", "n_total", Seq(col("len").desc, col("doc_id").asc))
      .withColumn("shard",
        Ranking.ntileOfRank(col("rn"), col("n_total"), shards))
    val perShard = d.select(col("shard"), col("len"), col("doc_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        // shard-sized state only: docs sorted longest-first, open-bin
        // loads scanned per doc (BFD's intrinsic cost)
        val docs = it.toArray.sortBy { case (_, len, id) => (-len, id) }
        val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
        docs.foreach { case (_, len, _) =>
          var best = -1
          var i = 0
          while (i < loads.length) {
            if (loads(i) + len <= capacity &&
              (best < 0 || loads(i) > loads(best))) best = i
            i += 1
          }
          if (best >= 0) loads(best) += len else loads += len
        }
        (shard, docs.length.toLong, docs.map(_._2).sum,
          loads.length.toLong,
          loads.map(l => math.max(0L, capacity - l)).sum)
      }
      .toDF("shard", "n_docs", "sum_tokens", "n_bins", "waste_tokens")
    val tot = broadcast(perShard.agg(sum(col("n_bins")).as("total_bins"),
      sum(col("waste_tokens")).as("total_waste")))
    perShard.crossJoin(tot)
      .select(col("shard"), col("n_docs"), col("sum_tokens"),
        col("n_bins"), col("waste_tokens"),
        expr(s"(1000000 * sum_tokens) DIV (n_bins * $capacity)")
          .as("util_micros"),
        col("total_bins"), col("total_waste"))
  }

  /** `chunk4_texttile` — lexical-cohesion topic segmentation
    * (TextTiling, Hearst CL'97 — the linguistic ancestor of today's
    * "semantic chunking" RAG splitters): the token stream is cut into
    * fixed `w`-token blocks, adjacent blocks are compared as SETS
    * (Jaccard in integer micros), and a chunk boundary falls wherever
    * cohesion dips below `thetaMicros` — so chunks follow topic shifts
    * instead of [[ragChunks]]' blind stride. Real TextTiling smooths a
    * depth score; the threshold-on-valley form keeps the same boundary
    * semantics with exact integer arithmetic (1e6·|A∩B|/|A∪B| never
    * lands on a representable .5 for block sets ≤ 2w, so HALF_UP vs
    * HALF_EVEN cannot diverge — same argument as the repo's other
    * micro-quantized ratios).
    *
    * Scale shape: the whole face is ONE narrow projection per document
    * (token split, block sets, adjacent Jaccards, boundary fold,
    * chunk fan-out via posexplode) — zero shuffles, zero joins, no
    * window; only (doc_id, idx, counts, md5) leave the projection.
    * The 100 TB cost is exactly one corpus scan. */
  def textTile(s: SparkSession, dir: String, w: Int = 12,
               thetaMicros: Long = 200000L): DataFrame = {
    val d = Tables.documents(s, dir)
    val jac = (a: Column, b: Column) =>
      round(lit(1e6) * size(array_intersect(a, b)) /
        size(array_union(a, b))).cast("long")
    val toks = d.select(col("doc_id"),
      TextAnalysis.tokens(lower(col("text"))).as("tk"))
    val withSegs = toks
      .withColumn("n_toks", size(col("tk")))
      .withColumn("ns",
        greatest(ceil(col("n_toks") / lit(w.toDouble)).cast("int"), lit(1)))
      .withColumn("segs", transform(sequence(lit(0), col("ns") - 1),
        i => array_distinct(slice(col("tk"), i * w + 1, lit(w)))))
      // sims(i) = cohesion between blocks i and i+1; guard ns == 1
      // (Spark sequence(0, -1) would DESCEND, not return empty)
      .withColumn("sims", when(col("ns") > 1,
        transform(sequence(lit(0), col("ns") - 2),
          i => jac(element_at(col("segs"), i + 1),
            element_at(col("segs"), i + 2))))
        .otherwise(array().cast("array<bigint>")))
      // boundary AFTER block i wherever cohesion < theta (whole
      // expression guarded on ns > 1: sequence(0, -1) descends). The
      // sims reference sits in the HOF's INPUT, not its lambda body:
      // the former `element_at(sims, i+1)` per filter element let
      // CollapseProject inline the whole cohesion transform into the
      // lambda, recomputing the O(ns·w) sims array once per candidate
      // boundary — O(ns²·w) jaccard work per document (visible in the
      // before plan: the transform nested inside the filter lambda).
      // zip_with evaluates its inputs once per row; the kept positions
      // and their order are identical.
      .withColumn("bnds", when(col("ns") > 1,
        filter(zip_with(col("sims"), sequence(lit(0), col("ns") - 2),
          (sv, i) => when(sv < thetaMicros, i)), x => x.isNotNull))
        .otherwise(array().cast("array<int>")))
      .withColumn("starts", concat(array(lit(0)),
        transform(col("bnds"), b => b + 1)))
      .withColumn("ends", concat(col("bnds"), array(col("ns") - 1)))
    withSegs
      .select(col("doc_id"), col("tk"), col("n_toks"),
        posexplode(arrays_zip(col("starts").as("s"), col("ends").as("e"))))
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("chunk_idx"),
        (col("col.s") * w + 1).cast("long").as("start_tok"),
        (least(col("n_toks"), (col("col.e") + 1) * w) - col("col.s") * w)
          .cast("long").as("n_tokens"),
        (col("col.e") - col("col.s") + 1).cast("long").as("n_segs"),
        md5(concat_ws(" ", slice(col("tk"), col("col.s") * w + 1,
          least(col("n_toks"), (col("col.e") + 1) * w) - col("col.s") * w))
          .cast("binary")).as("chunk_md5"))
  }
}
