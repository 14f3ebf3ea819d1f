package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Scale design: the brute-force path broadcasts the (single-row) query
  * and scans once — the right plan for one query at any corpus size. The
  * LSH path buckets the corpus by banded random-hyperplane signatures so
  * a query touches only its bands' buckets; signatures are computed from
  * deterministic seed-42 planes shipped as literals, so no stored model
  * is needed and any executor (or any other engine — see the mirrored
  * DuckDB oracles) can recompute them. The IVF path collects its K-row
  * quantizer once and embeds it as a literal, keeping assignment a
  * zero-shuffle narrow map.
  *
  * All math runs in double — cosine through the native codegen'd
  * CosineSimilarity expression, plane dots through explicit
  * left-to-right folds (so the >0 sign decision is reproducible by any
  * engine that sums in the same order). No UDFs, no driver collect of
  * the corpus.
  */
object Similarity {

  /** Cosine via graft's native codegen'd expression (one fused loop —
    * see functions.CosineSimilarity) over double-cast vectors. */
  def cosine(a: Column, b: Column): Column =
    cosineSim(a.cast("array<double>"), b.cast("array<double>"))

  /** The query row: a fixed corpus vector (vec_id = 0) so results are
    * reproducible without external input. */
  private def queryVec(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").as("q"))

  /** Brute-force cosine top-k: broadcast the query, one scan, per-row
    * cosine, TakeOrderedAndProject for the top-k (per-partition heaps —
    * no global sort). Ordering is on the rounded score with vec_id
    * tiebreak, pinned for the oracle. */
  def annBruteForce(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
    e.crossJoin(broadcast(queryVec(s, dir)))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic Rademacher hyperplanes (Charikar-style SimHash for
    * vectors): `bits` planes of ±1 per dimension, generated from a fixed
    * seed (java.util.Random's sequence is part of its spec) — exposed as
    * raw values so the DuckDB oracle embeds the SAME constants. */
  def planeValues(bits: Int, dims: Int = 64): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(42L)
    Seq.fill(bits)(Seq.fill(dims)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** The planes as a literal array column — shipped in the plan, zero
    * per-row hashing, tiny codegen footprint, identical everywhere. */
  private def planeLits(bits: Int): Column =
    ModelLit.mat(planeValues(bits))

  /** Per-plane sign bits of v (1 if dot > 0 else 0) via the native
    * codegen'd PlaneSignature kernel — one fused nested loop per row
    * instead of `bits` interpreted HOF folds, accumulating in the same
    * left-to-right order, so any engine summing in that order lands on
    * the same side of the > 0 boundary (bit-equivalence vs the HOF form
    * pinned in FunctionsSpec). */
  private def sigBits(v: Column, bits: Int): Column =
    planeSig(v.cast("array<double>"), planeLits(bits))

  /** Band values: the `bands` integers formed by consecutive w-bit
    * slices of the bit array (big-endian within the slice). */
  private def bandVals(bitsArr: Column, bands: Int, w: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => aggregate(slice(bitsArr, b * w + 1, lit(w)), lit(0),
        (acc, x) => acc * 2 + x))

  /** LSH-bucketed ANN with banded multi-probe: 16-bit hyperplane
    * signature split into 4 bands × 4 bits; a corpus vector is a
    * candidate if ANY of its 4 band values matches the query's — so
    * recall cannot collapse to a single empty bucket (the round-1
    * failure mode of the 12-bit single-bucket variant) — and candidates
    * re-rank with exact cosine.
    *
    * At 100 TB the corpus side is bucketed once on (band, value) — 4
    * small rows per vector, reusable across queries — and each query is
    * 4 bucket lookups + a top-k over ~bands/2^w of the corpus. */
  def annLsh(s: SparkSession, dir: String, k: Int = 10,
             bits: Int = 16, bands: Int = 4,
             probeBands: Int = Int.MaxValue): DataFrame = {
    val w = bits / bands
    val corpus = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        posexplode(bandVals(sigBits(col("embedding"), bits), bands, w)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    // probeBands < bands probes only the first b bands — the knob
    // [[lshBandCurve]] sweeps (fewer probed buckets = cheaper query,
    // lower recall); default probes all bands
    val q = queryVec(s, dir)
      .select(col("q"), posexplode(bandVals(sigBits(col("q"), bits), bands, w)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
      .filter(col("band") < math.min(probeBands, bands))
    corpus.join(broadcast(q), Seq("band", "bval"))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      // a vector can match in several bands; scores are per-vector
      // constants so distinct collapses the duplicates on narrow rows
      .distinct()
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** LSH with a PERSISTED banded-signature index — the [[annIvfIndexed]]
    * treatment applied to [[annLsh]]: the corpus's (band, bval,
    * embedding) rows are staged ONCE per (dataset, params) as a parquet
    * table PARTITIONED by (band, bval) — at the default 4 bands × 4 bits
    * that is ≤ 64 directories — and every subsequent query computes its
    * own 4 band values driver-side (a 1-row plan over the query vector)
    * and reads ONLY the matching partition directories: a STATIC
    * partition filter, plan-asserted in PlanSpec. Bit-identical to
    * [[annLsh]] (same plane literals, same band arithmetic, same
    * distinct/tie-break/limit), so both share one oracle.
    *
    * At 100 TB this is the difference between re-hashing the whole
    * corpus per query (annLsh) and an O(matched buckets) read: the
    * banded signature table IS the partition layout, built once and
    * amortized across the query session — exactly the FAISS-style
    * "index build then probe" split annIvfIndexed/bm25Indexed use. */
  def annLshIndexed(s: SparkSession, dir: String, k: Int = 10,
                    bits: Int = 16, bands: Int = 4,
                    probeBands: Int = Int.MaxValue): DataFrame = {
    // probeBands < bands probes only the first b bands — the knob
    // lshBandCurve sweeps; a dropped band removes its partition
    // directories from the static filter
    val (qBands, idx) = lshIndexParts(s, dir, bits, bands)
    annLshProbe(s, dir, idx, qBands.filter(_._1 < math.min(probeBands, bands)), k)
  }

  /** The staged band index + collected query band values — the two
    * one-time pieces [[annLshIndexed]] derives per call, shared so a
    * multi-depth sweep ([[lshBandCurve]]) pays the collect job and the
    * partitioned-directory listing once instead of once per depth. */
  private def lshIndexParts(s: SparkSession, dir: String, bits: Int = 16,
                            bands: Int = 4): (Array[(Int, Int)], DataFrame) = {
    val w = bits / bands
    // v1 = plane-seed/band-arithmetic version — bump on semantic change
    val base = Staging.base("lsh_index_v1", dir, s"b${bits}x$bands",
      "embeddings")
    Staging.buildOnce(base) {
      Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          posexplode(bandVals(sigBits(col("embedding"), bits), bands, w)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
        .write.mode("overwrite").partitionBy("band", "bval")
        .parquet(s"$base/bands")
    }
    val qBands = queryVec(s, dir)
      .select(posexplode(bandVals(sigBits(col("q"), bits), bands, w)))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    (qBands, s.read.parquet(s"$base/bands"))
  }

  /** The probe/score/dedup/top-k tail of [[annLshIndexed]] over an
    * already-listed index frame and already-collected band values —
    * bit-identical to the one-shot form by construction (same static
    * filter, same cosine, same distinct + tie-broken top-k). */
  private def annLshProbe(s: SparkSession, dir: String, bandsDf: DataFrame,
                          qBands: Array[(Int, Int)],
                          k: Int = 10): DataFrame = {
    val probe = qBands.map { case (b, v) =>
      col("band") === b && col("bval") === v
    }.reduce(_ || _)
    bandsDf
      .filter(probe)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      // same dedup as annLsh: a vector matching in several bands scores
      // identically, so distinct on the narrow (id, score) pair
      .distinct()
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Multi-probe LSH — more recall from the SAME index: besides each
    * band's exact bucket, the query also probes the w buckets at
    * Hamming distance 1 (one flipped signature bit per probe) — the
    * FALCONN/multi-probe-LSH production technique. A near neighbor
    * that landed one unlucky hyperplane away from the query's bucket
    * is recovered without growing bands or re-indexing; cost is read
    * amplification only (1+w buckets per band instead of 1), which
    * against [[annLshIndexed]]'s partitioned layout is still an
    * O(matched buckets) pruned read — the accuracy knob that does NOT
    * touch the stored corpus. Candidate set provably ⊇ [[annLsh]]'s
    * (the exact bucket is always probed), which eval2 shows as
    * recall(multiprobe) ≥ recall(lsh). */
  def annLshMultiprobe(s: SparkSession, dir: String, k: Int = 10,
                       bits: Int = 16, bands: Int = 4): DataFrame = {
    val w = bits / bands
    val corpus = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        posexplode(bandVals(sigBits(col("embedding"), bits), bands, w)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    val perturbs = (0 until w).map(j => col("bval").bitwiseXOR(lit(1 << j)))
    val q = queryVec(s, dir)
      .select(col("q"),
        posexplode(bandVals(sigBits(col("q"), bits), bands, w)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
      .select(col("q"), col("band"),
        explode(array(col("bval") +: perturbs: _*)).as("bval"))
    corpus.join(broadcast(q), Seq("band", "bval"))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .distinct()
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** INCREMENTAL maintenance of the persisted LSH signature index —
    * completing the maintenance family beside
    * [[annIvfIndexedIncremental]] and `TextAnalysis.bm25Incremental`:
    * the banded signature table is built ONCE over the base corpus
    * slice (vec_id ≤ max/2), and a new vector batch lands as its OWN
    * (band, bval)-partitioned generation directory (overwrite-mode —
    * crash-idempotent, base files never touched; the LSM shape).
    *
    * LSH is the EASY case of the family: the hash planes are fixed by
    * seed, so band values are APPEND-INVARIANT — no frozen-model
    * contract (IVF's quantizer) and no append-variant corpus stats
    * (BM25's N/Σdl) to manage. A delta build touches only the delta
    * rows, and the query unions two statically-pruned generation scans
    * before the shared distinct/tie-break/limit. Bit-identical to
    * [[annLsh]] over the full corpus, so all three LSH faces share one
    * oracle. At 100 TB: per batch, one signature write of the DELTA
    * only; per query, an O(matched buckets × generations) read. */
  def annLshIncremental(s: SparkSession, dir: String, k: Int = 10,
                        bits: Int = 16, bands: Int = 4): DataFrame =
    lshIncrQuery(s, dir, k, bits, bands,
      base => Seq(s"$base/bands", s"$base/delta/bands"))

  /** COMPACTION of the incremental LSH signature index — the LSH face
    * of [[annIvfCompacted]]: base + delta band generations rewrite
    * once into a single (band, bval)-partitioned generation and the
    * query's statically-pruned read collapses from a union to one
    * scan. Signatures are append-invariant (fixed planes), so
    * compaction is a pure co-location rewrite; bit-identical to
    * [[annLsh]], same shared oracle. */
  def annLshCompacted(s: SparkSession, dir: String, k: Int = 10,
                      bits: Int = 16, bands: Int = 4): DataFrame =
    lshIncrQuery(s, dir, k, bits, bands, { base =>
      Staging.buildOnce(s"$base/compact") {
        Seq(s"$base/bands", s"$base/delta/bands")
          .map(p => s.read.parquet(p).select(col("vec_id"),
            col("embedding"), col("band"), col("bval")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").partitionBy("band", "bval")
          .parquet(s"$base/compact/bands")
      }
      Seq(s"$base/compact/bands")
    })

  /** Shared staging + query kernel of the incremental-LSH faces —
    * `gens` picks the generation roots the query unions. */
  private def lshIncrQuery(s: SparkSession, dir: String, k: Int,
                           bits: Int, bands: Int,
                           gens: String => Seq[String]): DataFrame = {
    val w = bits / bands
    val e = Tables.embeddings(s, dir)
    val splitAt = e.agg(max(col("vec_id"))).head().getLong(0) / 2
    val base = Staging.base("lsh_incr_v1", dir, s"b${bits}x${bands}s$splitAt",
      "embeddings")
    def buildGen(rows: DataFrame, path: String): Unit =
      rows.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          posexplode(bandVals(sigBits(col("embedding"), bits), bands, w)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
        .write.mode("overwrite").partitionBy("band", "bval")
        .parquet(s"$path/bands")
    Staging.buildOnce(base) {
      buildGen(e.filter(col("vec_id") <= splitAt), base)
    }
    Staging.buildOnce(s"$base/delta") {
      buildGen(e.filter(col("vec_id") > splitAt), s"$base/delta")
    }
    val qBands = queryVec(s, dir)
      .select(posexplode(bandVals(sigBits(col("q"), bits), bands, w)))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val probe = qBands.map { case (b, v) =>
      col("band") === b && col("bval") === v
    }.reduce(_ || _)
    // each generation is its own (band, bval)-partitioned root —
    // statically-pruned scans unioned, exactly the LSM read shape
    gens(base).map { p =>
      s.read.parquet(p).filter(probe)
        .select(col("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .distinct()
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding near-duplicate pairs on a bounded slice: all-pairs cosine
    * over vec_id < 60, keep pairs above threshold. The unbounded-scale
    * variant is annLsh's bucketing applied pairwise; this bounded kernel
    * is the oracle-checkable exact face. */
  /** Semantic dedup (the SemDeDup recipe): prune embedding-space
    * near-duplicates *within* semantic clusters rather than globally.
    * The cluster id bounds the pairwise work — the self-join is an
    * equi-join on the cluster key, so each cluster's quadratic cost is
    * local to its bucket and nothing crosses buckets; at 100 TB you
    * additionally cap cluster fan-in with the banded-LSH candidate path
    * ([[nearDupLsh]]) inside each oversized cluster. Drop rule is
    * deterministic: the higher vec_id of any pair ≥ threshold goes, so
    * the kept set is reproducible on any engine (DuckDB oracle replays
    * it literally). */
  def semDedup(embs: DataFrame, threshold: Double = 0.995): DataFrame = {
    val e = embs.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("label"), col("vec_id").as("vec_b"), col("v").as("vb"))
    val dropped = a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(cosine(col("va"), col("vb")), 6) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    e.join(dropped.withColumn("dup", lit(1L)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        coalesce(lit(1L) - col("dup"), lit(1L)).as("is_kept"))
  }

  def embNearDup(s: SparkSession, dir: String,
                 threshold: Double = 0.3): DataFrame = {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") < 60)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("ea"), col("eb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding near-duplicate pairs at CORPUS scale — the pairwise
    * application of annLsh's bucketing, and the unbounded-scale path the
    * bounded exact kernel ([[embNearDup]]) stands in for: each vector
    * gets 4 banded hyperplane-signature values; a pair is a candidate if
    * ANY band matches; candidates are distinct'd as bare id pairs (the
    * embeddings never enter the self-join or the distinct) and only then
    * verified with exact cosine.
    *
    * Scale shape: the self-join is an equi-join on (band, bval) — the
    * quadratic blow-up is per-bucket, never global — and the exact math
    * touches candidates only. Recall is the standard LSH trade
    * (1−(1−p^w)^bands); banding parameters trade recall against bucket
    * sizes, and the DuckDB oracle replays the same planes so both
    * engines agree on the exact candidate set. */
  def nearDupLsh(s: SparkSession, dir: String, threshold: Double = 0.4,
                 bits: Int = 16, bands: Int = 4): DataFrame = {
    val w = bits / bands
    val e = Tables.embeddings(s, dir)
    val sigs = e.select(col("vec_id"),
        posexplode(bandVals(sigBits(col("embedding"), bits), bands, w)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    val cand = sigs.select(col("vec_id").as("vec_a"), col("band"), col("bval"))
      .join(sigs.select(col("vec_id").as("vec_b"), col("band"), col("bval")),
        Seq("band", "bval"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")),
        "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")),
        "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** IVF-style ANN: coarse quantizer = per-label mean vectors (the
    * labels stand in for k-means cells on this corpus); every corpus
    * vector is assigned to its NEAREST centroid (a real inverted-file
    * assignment), the query probes its `nprobe` nearest cells, and only
    * those cells are re-ranked exactly.
    *
    * Scale shape: the quantizer is a K-row model — it is computed ONCE,
    * rounded to 6 decimals (cross-engine-stable), collected, and
    * embedded as a literal (the broadcast-the-model pattern). Both the
    * corpus assignment and the query probe are then pure narrow
    * projections: argmin over K literal centroids via
    * array_min(struct(dist, cell)) — no window, no per-row fan-out, no
    * shuffle. The only corpus pass is the final scan + broadcast probe
    * join + TakeOrdered. (Round 1 computed the centroid subtree twice
    * and shuffled the full corpus with embedding payloads through a
    * row_number window — this plan replaces all of it.) */
  /** The per-label coarse quantizer as a DataFrame (cell, centroid) —
    * 6dp-rounded means, cross-engine-stable. */
  private def quantizer(e: DataFrame): DataFrame = e
    .select(col("label").as("cell"),
      posexplode(col("embedding").cast("array<double>")))
    .groupBy(col("cell"), col("pos"))
    .agg(round(avg(col("col")), 6).as("m"))
    .groupBy(col("cell"))
    .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
      .getField("m").as("centroid"))

  /** K collected model rows → one literal array<struct<cell,centroid>>
    * (the broadcast-the-model pattern). */
  private def centLiteral(rows: Array[org.apache.spark.sql.Row]): Column =
    ModelLit.cells(rows.sortBy(_.getAs[Int]("cell")).toIndexedSeq
      .map(r => (r.getAs[Int]("cell"), r.getSeq[Double](1))),
      "cell", "centroid")

  /** Quantizer literal for a corpus (slice) — the collected model as a
    * shippable Column; spec/harness access to the private
    * quantizer+centLiteral pair. */
  private[graft] def centsOf(e: DataFrame): Column =
    centLiteral(quantizer(e).collect())

  /** Per-cell (dist, cell) structs for argmin/sort — the shared
    * assignment/probe expression of the IVF family. */
  private def distsTo(cents: Column)(v: Column): Column =
    transform(cents, c =>
      struct(round(lit(1.0) - cosine(v, c.getField("centroid")), 6).as("dist"),
        c.getField("cell").as("cell")))

  def annIvf(s: SparkSession, dir: String, k: Int = 10,
             nprobe: Int = 3, sharedCents: Option[Column] = None): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // K model rows, not data; callers running several IVF-family methods
    // (annRecall) pass the collected model in so it builds once
    val cents = sharedCents.getOrElse(centLiteral(quantizer(e).collect()))
    val dists = distsTo(cents) _
    // query probes its nprobe nearest cells (single-row subtree)
    val probes = queryVec(s, dir)
      .select(col("q"), posexplode(array_sort(dists(col("q")))))
      .filter(col("pos") < nprobe)
      .select(col("q"), col("col").getField("cell").as("cell"))
    // inverted file: nearest-centroid assignment as a zero-shuffle map
    e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        array_min(dists(col("embedding"))).getField("cell").as("cell"))
      .join(broadcast(probes), "cell")
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF with a PERSISTED inverted file — the incremental-ANN path (the
    * "interactive query session" reuse the round-4 review listed as
    * missing): quantizer and corpus cell assignment are built ONCE per
    * (session, dataset) and staged as a cell-PARTITIONED parquet index
    * plus a K-row model file; every subsequent query collects the model,
    * picks its nprobe cells driver-side, and reads ONLY those cell
    * directories — static partition pruning, plan-asserted. Results are
    * bit-identical to [[annIvf]] (same quantizer math, same argmin
    * tie-breaks), so both share one oracle. At 100 TB this turns
    * per-query cost from a full corpus scan into an O(probed cells)
    * read: the inverted file IS the partition layout, and the model
    * build amortizes across the whole query session.
    */
  def annIvfIndexed(s: SparkSession, dir: String, k: Int = 10,
                    nprobe: Int = 3): DataFrame = {
    // the index path is keyed by path AND a (size, mtime) fingerprint
    // of the source parquet: regenerate the dataset and the old index
    // is simply a different (ignored) directory — a stale index can
    // never serve a changed corpus. Concurrent FIRST queries in
    // separate JVMs can still race the build; a deployment puts a lock
    // (or a scheduler-owned build step) in front, same as any shared
    // index build.
    // v1 = quantizer/algorithm version — bump on semantic change
    val base = Staging.base("ivf_index_v1", dir, "", "embeddings")
    val marker = new java.io.File(s"$base/_built")
    if (!marker.exists()) {
      val e = Tables.embeddings(s, dir)
      quantizer(e).coalesce(1).write.mode("overwrite").parquet(s"$base/model")
      val cents = centLiteral(
        s.read.parquet(s"$base/model").select("cell", "centroid").collect())
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          array_min(distsTo(cents)(col("embedding"))).getField("cell").as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$base/cells")
      marker.createNewFile()
    }
    val cents = centLiteral(
      s.read.parquet(s"$base/model").select("cell", "centroid").collect())
    // nprobe cell ids, collected driver-side (model-sized) so the index
    // read is a STATIC IN-filter on the partition column
    val probeCells = queryVec(s, dir)
      .select(posexplode(array_sort(distsTo(cents)(col("q")))))
      .filter(col("pos") < nprobe)
      .select(col("col").getField("cell").as("cell"))
      .collect().map(_.getInt(0))
    s.read.parquet(s"$base/cells")
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .crossJoin(broadcast(queryVec(s, dir)))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** INCREMENTAL maintenance of the persisted IVF index — the
    * "new crawl batch arrives" path a 100 TB vector store lives on:
    * the inverted file is built ONCE over the base corpus
    * (vec_id ≤ max/2 here — a deterministic stand-in for "yesterday's
    * data"), and the delta batch is APPENDED by assigning each new
    * vector under the FROZEN base quantizer and writing additional
    * files into the existing cell partitions — no rebuild, no
    * retraining, no touch of the base files. Queries are identical to
    * [[annIvfIndexed]]'s (model collect → driver-side probe cells →
    * statically-pruned read over BOTH generations), and the result is
    * bit-identical to running [[annIvf]] over the FULL corpus with the
    * base-only quantizer (the frozen-model contract: appends never
    * shift existing assignments) — which is exactly what the shared
    * oracle replays. The delta lands in its OWN cell-partitioned
    * generation directory written with mode=overwrite — the LSM
    * shape — because an append into the base directory would not be
    * crash-idempotent (a retry after the job commits but before the
    * marker lands would double every delta row); Staging's
    * "rebuilding identical content is benign" guarantee holds only
    * for overwrite writes. The quantizer-drift question ("when do
    * appended deltas justify retraining?") is [[ivfRecallCurve]]'s
    * territory; this operator pins that the append MECHANISM loses
    * nothing. */
  def annIvfIndexedIncremental(s: SparkSession, dir: String, k: Int = 10,
                               nprobe: Int = 3): DataFrame =
    ivfIncrQuery(s, dir, k, nprobe,
      base => Seq(s"$base/cells", s"$base/delta/cells"))

  /** COMPACTION of the incremental IVF index — the third LSM verb
    * (build, append, [[annIvfIndexedIncremental]]; now merge): the
    * base and delta cell generations are rewritten ONCE into a single
    * compacted cell-partitioned generation (no re-assignment — the
    * quantizer stays frozen, rows just co-locate), and every
    * subsequent query reads ONE statically-pruned scan instead of a
    * generation union. Bit-identical to the two-generation read (rows
    * are the same set), so all incremental faces share one oracle. At
    * 100 TB this is the background maintenance job that bounds read
    * amplification: generations accumulate per append batch, queries
    * degrade O(generations), and compaction resets that to 1 without
    * touching the model or the live generations (the compact dir is
    * its own overwrite-mode root — crash-idempotent like every other
    * generation build). */
  def annIvfCompacted(s: SparkSession, dir: String, k: Int = 10,
                      nprobe: Int = 3): DataFrame =
    ivfIncrQuery(s, dir, k, nprobe, { base =>
      Staging.buildOnce(s"$base/compact") {
        Seq(s"$base/cells", s"$base/delta/cells")
          .map(p => s.read.parquet(p)
            .select(col("vec_id"), col("embedding"), col("cell")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$base/compact/cells")
      }
      Seq(s"$base/compact/cells")
    })

  /** Shared staging + query kernel of the incremental-IVF faces: base
    * build (quantizer + base-slice inverted file) and frozen-model
    * delta generation land exactly once; `gens` picks which
    * generation roots the query unions (the append face reads both,
    * the compacted face first merges then reads one). */
  private def ivfIncrQuery(s: SparkSession, dir: String, k: Int,
                           nprobe: Int,
                           gens: String => Seq[String]): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val splitAt = e.agg(max(col("vec_id"))).head().getLong(0) / 2
    val base = Staging.base("ivf_incr_v2", dir, s"s$splitAt", "embeddings")
    def assignWith(cents: Column, rows: DataFrame): DataFrame =
      rows.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          array_min(distsTo(cents)(col("embedding"))).getField("cell")
            .as("cell"))
    // base build: quantizer + inverted file over the base slice only
    Staging.buildOnce(base) {
      quantizer(e.filter(col("vec_id") <= splitAt))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/model")
      val cents = centLiteral(
        s.read.parquet(s"$base/model").select("cell", "centroid").collect())
      assignWith(cents, e.filter(col("vec_id") <= splitAt))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$base/cells")
    }
    // delta generation, exactly once (its own marker): frozen model,
    // a SEPARATE overwrite-mode cell-partitioned directory — a crashed
    // build retries idempotently (same input ⇒ same bytes), which an
    // append into $base/cells could not guarantee
    Staging.buildOnce(s"$base/delta") {
      val cents = centLiteral(
        s.read.parquet(s"$base/model").select("cell", "centroid").collect())
      assignWith(cents, e.filter(col("vec_id") > splitAt))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/delta/cells")
    }
    val cents = centLiteral(
      s.read.parquet(s"$base/model").select("cell", "centroid").collect())
    val probeCells = queryVec(s, dir)
      .select(posexplode(array_sort(distsTo(cents)(col("q")))))
      .filter(col("pos") < nprobe)
      .select(col("col").getField("cell").as("cell"))
      .collect().map(_.getInt(0))
    // each generation is its own cell-partitioned root (Spark rejects
    // nested multi-root partition discovery) — statically-pruned
    // scans unioned, exactly the LSM read shape
    gens(base).map { p =>
      s.read.parquet(p)
        .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
        .select(col("vec_id"), col("embedding"))
    }.reduce(_ unionByName _)
      .crossJoin(broadcast(queryVec(s, dir)))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Scalar-quantized ANN: embeddings quantized to int8 (clamped round
    * of x·127 — the corpus is unit-scale), candidates ranked by the
    * INTEGER dot product of quantized vectors, and the top `shortlist`
    * re-ranked with exact cosine. The quantized scan is
    * engine-independent by construction (no floating point until the
    * re-rank) and at 100 TB the int8 corpus is 4× smaller than float32
    * with a SIMD-friendly inner loop; exact math touches only the
    * shortlist. */
  def annScalarQuant(s: SparkSession, dir: String, k: Int = 10,
                     shortlist: Int = 50): DataFrame = {
    val q8 = (v: Column) => transform(v.cast("array<double>"),
      x => greatest(lit(-127L), least(lit(127L), round(x * 127).cast("long"))))
    val e = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"), q8(col("embedding")).as("v8"))
    val q = queryVec(s, dir).select(col("q"), q8(col("q")).as("qv8"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("q"),
        aggregate(zip_with(col("v8"), col("qv8"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("sq_score"))
      .orderBy(col("sq_score").desc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** `sim_ann_bq` — 1-bit (sign) binary-quantization ANN, the missing
    * extreme of the quantization ladder (SQ8 → PQ → BQ): each 64-dim
    * vector compresses to its 64 SIGN BITS, packed as two 32-bit
    * halves so neither engine touches the BIGINT sign bit; the scan
    * ranks by Hamming distance to the query's code (two bit_count XORs
    * — the cheapest possible vector scorer) and the top `shortlist`
    * re-rank with exact cosine. Sign agreement is a monotone proxy for
    * angular similarity (Goemans–Williamson: P[sign match] =
    * 1 − θ/π per dimension), which is why 1-bit codes power the coarse
    * pass of modern retrieval stacks at 64× compression of float32.
    *
    * Determinism: the sign predicate compares the SAME parquet doubles
    * in both engines; codes are exact integers, Hamming ties break on
    * vec_id, and the rerank is the family's shared 6dp cosine.
    *
    * Scale shape: encoding is a zero-shuffle narrow map; at 100 TB the
    * scan reads 8-byte codes instead of 256-byte vectors and the
    * shortlist alone touches full embeddings (the annPq convention).
    * TakeOrderedAndProject keeps both top-k passes heap-bounded. */
  /** One 32-bit half of the 64 sign bits, as a long (bits `off` to
    * `off+31`) — shared by the in-session and staged BQ faces. */
  private def bqHalf(v: Column, off: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(31)),
        i => when(element_at(v.cast("array<double>"), i + off + 1) > 0,
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)

  def annBinaryQuant(s: SparkSession, dir: String, k: Int = 10,
                     shortlist: Int = 50): DataFrame = {
    val e = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        bqHalf(col("embedding"), 0).as("c_lo"),
        bqHalf(col("embedding"), 32).as("c_hi"))
    val q = queryVec(s, dir).select(col("q"),
      bqHalf(col("q"), 0).as("q_lo"), bqHalf(col("q"), 32).as("q_hi"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("q"),
        (bit_count(col("c_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("c_hi").bitwiseXOR(col("q_hi"))))
          .cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** [[annBinaryQuant]] against a PERSISTED code table — the staged
    * realization of BQ's 100 TB claim: the (vec_id, c_lo, c_hi) sign
    * codes are built once per corpus fingerprint and written as
    * parquet (8 bytes of code per 256-byte float32 vector — the 32×
    * compression is what the coarse scan actually reads); the Hamming
    * scan touches ONLY the code table and full embeddings join back
    * for the shortlist rerank alone. Bit-equal to the in-session face
    * (same codes, same tie-breaks — shared oracle, Round9Spec pin). */
  def annBinaryQuantIndexed(s: SparkSession, dir: String, k: Int = 10,
                            shortlist: Int = 50): DataFrame = {
    val base = Staging.base("bq_index_v1", dir, "", "embeddings")
    Staging.buildOnce(base) {
      Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), bqHalf(col("embedding"), 0).as("c_lo"),
          bqHalf(col("embedding"), 32).as("c_hi"))
        .write.mode("overwrite").parquet(s"$base/codes")
    }
    val q = queryVec(s, dir).select(col("q"),
      bqHalf(col("q"), 0).as("q_lo"), bqHalf(col("q"), 32).as("q_hi"))
    val short = s.read.parquet(s"$base/codes")
      .crossJoin(broadcast(q.select(col("q_lo"), col("q_hi"))))
      .select(col("vec_id"),
        (bit_count(col("c_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("c_hi").bitwiseXOR(col("q_hi"))))
          .cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
      .limit(shortlist)
    short
      .join(Tables.embeddings(s, dir), "vec_id")
      .crossJoin(broadcast(q.select(col("q"))))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Product-quantized ANN (IVF-PQ's compression half): the 64-dim space
    * splits into M=8 subspaces of 8 dims; each subspace gets a 16-entry
    * codebook (deterministic sample init — corpus vectors 1..16, the
    * standard PQ baseline init); every corpus vector is encoded as 8
    * one-byte codes. The query builds an ADC (asymmetric distance
    * computation) table — its distance to all 128 codewords — ONCE, and
    * the corpus scan scores each row by 8 table lookups instead of 64
    * multiplies. The top `shortlist` by ADC distance re-rank exactly.
    *
    * Scale shape: the codebook is a ~4 KB literal (broadcast-the-model),
    * encoding is a zero-shuffle narrow map, and at 100 TB the stored
    * 8-byte codes are a 32× compression of float32 vectors — the scan
    * reads codes, not embeddings; only the shortlist touches full
    * vectors. ADC sums accumulate as exact integer micros of 6dp-rounded
    * subspace distances, so the shortlist boundary cannot drift between
    * engines (the DuckDB oracle replays codebook, codes, and table
    * bit-for-bit). */
  def annPq(s: SparkSession, dir: String, k: Int = 10, m: Int = 8,
            dsub: Int = 8, ksub: Int = 16, shortlist: Int = 50): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // codebook: subspace slices of corpus vectors 1..ksub, 6dp-rounded
    // (a K-row model collect, like annIvf's quantizer — never data)
    val cbRows = e.filter(col("vec_id") >= 1 && col("vec_id") <= ksub)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => round(x, 6))
          .as("v"))
      .collect().sortBy(_.getLong(0))
    def book(mi: Int): Column = ModelLit.cells(
      cbRows.zipWithIndex.toIndexedSeq.map { case (r, j) =>
        (j, r.getSeq[Double](1).slice(mi * dsub, (mi + 1) * dsub))
      }, "j", "c")
    def subv(v: Column, mi: Int): Column = slice(v, mi * dsub + 1, dsub)
    def dist(a: Column, b: Column): Column =
      round(l2Sq(a, b), 6)
    // encode: per subspace, the nearest codeword id (tie → lower id).
    // The subspace slices are MATERIALIZED as a per-row column first
    // (r16): a lambda body is re-evaluated per array element, so
    // subv(cast(embedding)) inlined here re-ran the 64-float→double
    // cast + slice once per CODEWORD (ksub × m = 128× per row); the
    // `subs` projection pays it once per row and the lambda reads a
    // bound column — same values, same distances, same codes.
    def subsOf(v: Column): Column =
      array((0 until m).map(mi => subv(v, mi)): _*)
    def codes(subs: Column): Column = array((0 until m).map { mi =>
      array_min(transform(book(mi), c =>
        struct(dist(element_at(subs, mi + 1), c.getField("c")).as("d"),
          c.getField("j").as("j")))).getField("j")
    }: _*)
    // ADC table: query distance to every codeword of every subspace
    def dts(v: Column): Column = array((0 until m).map { mi =>
      transform(book(mi), c => dist(subv(v, mi), c.getField("c")))
    }: _*)
    val q = queryVec(s, dir)
      .select(col("q"), dts(col("q").cast("array<double>")).as("dt"))
    e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        subsOf(col("embedding").cast("array<double>")).as("subs"))
      .select(col("vec_id"), col("embedding"),
        codes(col("subs")).as("code"))
      .crossJoin(broadcast(q))
      // ADC score: 8 table lookups, summed as exact integer micros
      .select(col("vec_id"), col("embedding"), col("q"),
        (aggregate(zip_with(col("code"), col("dt"),
          (c, t) => element_at(t, (c + 1).cast("int"))), lit(0L),
          (acc, x) => acc + round(x * 1e6).cast("long")).cast("double") / 1e6)
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"), col("adc_dist"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-PQ combined ANN — the two halves ([[annIvf]]'s coarse
    * partition pruning, [[annPq]]'s compressed in-cell scoring) composed
    * into the architecture a 100 TB vector store actually runs
    * (FAISS IVFPQ): the coarse quantizer routes the query to `nprobe`
    * cells, and within those cells rows are scored from M one-byte PQ
    * codes of the RESIDUAL (vector − cell centroid) — residual encoding
    * is what makes a shared codebook tight across cells, since residuals
    * of every cell live near the origin. The query builds one ADC table
    * per probed cell (its residual differs per cell); the top `shortlist`
    * by ADC distance re-rank with exact cosine.
    *
    * Scale shape: centroids and codebook are K-row/16-row model literals
    * (broadcast-the-model); assignment, residual, and encoding are
    * zero-shuffle narrow maps; the probe join broadcasts nprobe
    * single-row tables; the scan reads 8-byte codes, not vectors, and
    * with the cell-partitioned layout of [[annIvfIndexed]] it would read
    * only the probed partitions. Determinism: centroids 6dp-rounded,
    * residuals exact double subtraction, codebook entries 6dp-rounded,
    * subspace distances 6dp-rounded, ADC summed as exact integer micros
    * — the DuckDB oracle replays every stage bit-for-bit. */
  /** The PQ machinery shared by [[annIvfPq]] and [[annIvfPqIndexed]] —
    * ONE definition of cell assignment, residual computation, codebook
    * literals, encoding and ADC tables, so the persisted index's stored
    * codes are bit-identical to the in-session computation by
    * construction (the Dedup.stagedShingles single-kernel convention).
    * The codebook is the 6dp-rounded RESIDUALS of corpus vectors
    * 1..ksub, computed through the same column expressions the corpus
    * uses and collected as a ksub-row model. */
  /** Nearest-cell assignment under a centroid-literal model. */
  private def pqCellOf(cents: Column)(v: Column): Column =
    array_min(distsTo(cents)(v)).getField("cell")

  /** Residual against the assigned/probed cell's centroid. */
  private def pqResid(cents: Column)(v: Column, cell: Column): Column =
    zip_with(v.cast("array<double>"),
      element_at(filter(cents, c => c.getField("cell") === cell), 1)
        .getField("centroid"),
      (x, mu) => x - mu)

  private final class PqKit(val cents: Column,
                            cbRows: IndexedSeq[org.apache.spark.sql.Row],
                            m: Int, dsub: Int) {
    val dists: Column => Column = distsTo(cents)
    def cellOf(v: Column): Column = pqCellOf(cents)(v)
    def resid(v: Column, cell: Column): Column = pqResid(cents)(v, cell)
    private def book(mi: Int): Column = ModelLit.cells(
      cbRows.zipWithIndex.map { case (r, j) =>
        (j, r.getSeq[Double](1).slice(mi * dsub, (mi + 1) * dsub))
      }, "j", "c")
    private def subv(v: Column, mi: Int): Column =
      slice(v, mi * dsub + 1, dsub)
    private def dist(a: Column, b: Column): Column =
      round(l2Sq(a, b), 6)
    /** The residual's subspace slices as ONE per-row column — a lambda
      * body re-evaluates per element, so inlining the residual into
      * [[codes]] re-ran the zip_with residual + slice once per codeword
      * (ksub × m = 128× per row); materializing the slices pays the
      * residual once per row. Same slices, same distances, same codes. */
    def subsOf(rv: Column): Column =
      array((0 until m).map(mi => subv(rv, mi)): _*)
    def codes(subs: Column): Column = array((0 until m).map { mi =>
      array_min(transform(book(mi), c =>
        struct(dist(element_at(subs, mi + 1), c.getField("c")).as("d"),
          c.getField("j").as("j")))).getField("j")
    }: _*)
    def dts(rv: Column): Column = array((0 until m).map { mi =>
      transform(book(mi), c => dist(subv(rv, mi), c.getField("c")))
    }: _*)
  }

  /** The (vec_id, 6dp residual) codebook frame — written to parquet by
    * the indexed build, collected directly by the in-session form. */
  private def pqCodebookDf(e: DataFrame, cents: Column,
                           ksub: Int): DataFrame =
    e.filter(col("vec_id") >= 1 && col("vec_id") <= ksub)
      .select(col("vec_id"),
        transform(
          pqResid(cents)(col("embedding"), pqCellOf(cents)(col("embedding"))),
          x => round(x, 6)).as("rv"))

  private def pqKit(e: DataFrame, cents: Column, m: Int, dsub: Int,
                    ksub: Int): PqKit =
    new PqKit(cents,
      pqCodebookDf(e, cents, ksub).collect().sortBy(_.getLong(0))
        .toIndexedSeq, m, dsub)

  def annIvfPq(s: SparkSession, dir: String, k: Int = 10, nprobe: Int = 3,
               m: Int = 8, dsub: Int = 8, ksub: Int = 16,
               shortlist: Int = 50,
               sharedCents: Option[Column] = None): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = sharedCents.getOrElse(centLiteral(quantizer(e).collect()))
    val kit = pqKit(e, cents, m, dsub, ksub)
    // probes: nprobe nearest cells, each carrying the query's
    // PER-CELL residual ADC table
    val probes = queryVec(s, dir)
      .select(col("q"), posexplode(array_sort(kit.dists(col("q")))))
      .filter(col("pos") < nprobe)
      .select(col("q"), col("col").getField("cell").as("cell"))
      .withColumn("dt", kit.dts(kit.resid(col("q"), col("cell"))))
    // probe join BEFORE encoding: codes are per-row independent, so
    // only candidate (probed-cell) rows pay the 1024-mult encode — in
    // an indexed deployment codes are precomputed at build time
    // ([[annIvfPqIndexed]] IS that deployment)
    e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        kit.cellOf(col("embedding")).as("cell"))
      .join(broadcast(probes), "cell")
      .withColumn("rv", kit.resid(col("embedding"), col("cell")))
      .withColumn("subs", kit.subsOf(col("rv")))
      .withColumn("code", kit.codes(col("subs")))
      .select(col("vec_id"), col("embedding"), col("q"),
        (aggregate(zip_with(col("code"), col("dt"),
          (c, t) => element_at(t, (c + 1).cast("int"))), lit(0L),
          (acc, x) => acc + round(x * 1e6).cast("long")).cast("double") / 1e6)
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"), col("adc_dist"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF-PQ with a PERSISTED index — the full FAISS deployment shape
    * ([[annIvfIndexed]]'s partition-pruned inverted file + stored PQ
    * codes): the build stage writes (a) the K-row coarse quantizer
    * model, (b) the corpus rows WITH THEIR PRECOMPUTED RESIDUAL PQ
    * CODES, partitioned by cell. A query collects the model, picks its
    * nprobe cells driver-side (static partition filter, plan-asserted),
    * and scores the pruned read from the STORED codes against its
    * per-cell ADC tables — the encode cost paid once at build time,
    * never per query. Shares [[PqKit]] with [[annIvfPq]], so results
    * are bit-identical and one oracle covers both. At 100 TB this is
    * the deployment architecture: per-query cost = O(probed cells)
    * read of 8-byte codes + a shortlist-sized exact re-rank. */
  def annIvfPqIndexed(s: SparkSession, dir: String, k: Int = 10,
                      nprobe: Int = 3, m: Int = 8, dsub: Int = 8,
                      ksub: Int = 16, shortlist: Int = 50): DataFrame = {
    // v2 = quantizer/codebook/encode version — bump on semantic change
    // (v2: the codebook is persisted beside the model, so queries read
    // a ksub-row file instead of scanning the corpus for it)
    val base = Staging.base("ivfpq_index_v2", dir, s"m${m}d${dsub}k$ksub",
      "embeddings")
    Staging.buildOnce(base) {
      val e = Tables.embeddings(s, dir)
      quantizer(e).coalesce(1).write.mode("overwrite")
        .parquet(s"$base/model")
      val cents = centLiteral(
        s.read.parquet(s"$base/model").select("cell", "centroid").collect())
      pqCodebookDf(e, cents, ksub).coalesce(1).write.mode("overwrite")
        .parquet(s"$base/codebook")
      val kit = pqKit(e, cents, m, dsub, ksub)
      e.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"),
          kit.cellOf(col("embedding")).as("cell"))
        .withColumn("rv", kit.resid(col("embedding"), col("cell")))
        .withColumn("subs", kit.subsOf(col("rv")))
        .withColumn("code", kit.codes(col("subs")))
        .select("vec_id", "embedding", "code", "cell")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$base/cells")
    }
    val cents = centLiteral(
      s.read.parquet(s"$base/model").select("cell", "centroid").collect())
    // the persisted codebook: a ksub-row model read — the query never
    // scans the corpus (the build paid the encode AND codebook cost)
    val kit = new PqKit(cents,
      s.read.parquet(s"$base/codebook").collect().sortBy(_.getLong(0))
        .toIndexedSeq, m, dsub)
    // nprobe cell ids, collected driver-side (model-sized) so the index
    // read is a STATIC IN-filter on the partition column
    val probeCells = queryVec(s, dir)
      .select(posexplode(array_sort(kit.dists(col("q")))))
      .filter(col("pos") < nprobe)
      .select(col("col").getField("cell").as("cell"))
      .collect().map(_.getInt(0))
    val probes = queryVec(s, dir)
      .select(col("q"),
        explode(array(probeCells.toIndexedSeq.map(lit): _*)).as("cell"))
      .withColumn("dt", kit.dts(kit.resid(col("q"), col("cell"))))
    s.read.parquet(s"$base/cells")
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .join(broadcast(probes), "cell")
      .select(col("vec_id"), col("embedding"), col("q"),
        (aggregate(zip_with(col("code"), col("dt"),
          (c, t) => element_at(t, (c + 1).cast("int"))), lit(0L),
          (acc, x) => acc + round(x * 1e6).cast("long")).cast("double") / 1e6)
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"), col("adc_dist"),
        round(cosine(col("embedding"), col("q")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Lloyd's k-means over the embedding corpus — the actual quantizer
    * training annIvf's per-label stand-in skips: `iters` rounds of
    * assign-to-nearest / recompute-means from a deterministic init (the
    * first k corpus vectors), then a per-cluster summary.
    *
    * Scale shape per round: the model is K rows — collected, rounded to
    * 6 decimals (cross-engine-stable, see the mirrored DuckDB oracle)
    * and re-shipped as a literal, so ASSIGNMENT is a zero-shuffle narrow
    * map (argmin over K literal centroids via array_min(struct(dist,
    * cell))), and the UPDATE is one map-side-combined aggregation whose
    * shuffle carries K×dims partial sums, not vectors. Nothing driver-
    * side ever holds data — only the K-row model. Empty clusters drop
    * out of the model identically on every engine.
    */
  def kmeansLloyd(s: SparkSession, dir: String, k: Int = 8,
                  iters: Int = 2): DataFrame = {
    // cache (inside the staged build only): the corpus feeds iters+1
    // TRAINING jobs (init collect, one assignment+update collect per
    // round) — without it each round re-reads and re-casts the
    // parquet. Unpersisted in the build's finally, so no storage
    // outlives the call; the final one-pass summary recomputes from
    // parquet.
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // squared-L2 to each centroid of a literal model via the native
    // codegen'd L2Squared kernel (the HOF zip_with/aggregate form is
    // CodegenFallback — interpreted — and dominated the runtime),
    // rounded so the argmin decision is reproducible on any engine that
    // folds left-to-right in double
    def dists(model: Seq[(Int, Seq[Double])])(v: Column): Column =
      transform(ModelLit.cells(model, "cell", "c"), c =>
        struct(round(l2Sq(v, c.getField("c")), 6)
          .as("dist"), c.getField("cell").as("cell")))
    // order-independent mean: sum exact integer micros (6dp quantized),
    // divide once — float summation order differs between engines (and
    // between Spark's own partitionings), and a ~1e-12 drift can flip a
    // 6dp rounding boundary (observed at sf0.1). Integer sums cannot.
    def microMean(x: Column): Column =
      round(sum(round(x * 1e6, 0).cast("long")).cast("double") /
        (count(lit(1)).cast("double") * 1e6), 6)
    // the TRAINED model is a pure function of (corpus, k, iters) —
    // staged once per embeddings fingerprint (r14, the train-once/
    // score-many split): warm calls skip the Lloyd rounds and pay only
    // the final assignment scan, which IS the query
    val mBase = Staging.base("kmeans_model_v1", dir, s"k${k}_i$iters",
      "embeddings")
    Staging.buildOnce(mBase) {
      e.cache()
      var m: Seq[(Int, Seq[Double])] = Nil
      try {
        // seeds = the k SMALLEST vec_ids (identical to the retired
        // `vec_id < k` on contiguous corpora, never empty on sparse id
        // spaces — the r14 id-robustness convention); cell ids stay the
        // seeds' real vec_ids
        m = e.orderBy(col("vec_id")).limit(k)
          .select(col("vec_id"),
            transform(col("v"), x => round(x, 6)).as("c"))
          .collect()
          .map(r => (r.getLong(0).toInt,
            r.getAs[collection.Seq[Double]]("c").toSeq))
          .sortBy(_._1).toSeq
        for (_ <- 1 to iters) {
          m = e
            .select(array_min(dists(m)(col("v"))).getField("cell")
              .as("cell"), posexplode(col("v")))
            .groupBy(col("cell"), col("pos"))
            .agg(microMean(col("col")).as("m"))
            .groupBy(col("cell"))
            .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
              .getField("m").as("c"))
            .collect()
            .map(r => (r.getInt(0),
              r.getAs[collection.Seq[Double]]("c").toSeq))
            .sortBy(_._1).toSeq
        }
      } finally e.unpersist(blocking = true)
      import s.implicits._
      m.toDF("cell", "c")
        .coalesce(1).write.mode("overwrite").parquet(s"$mBase/model")
    }
    val model: Seq[(Int, Seq[Double])] =
      s.read.parquet(s"$mBase/model").orderBy(col("cell")).collect()
        .map(r => (r.getInt(0),
          r.getAs[collection.Seq[Double]]("c").toSeq)).toSeq
    // final assignment + per-cluster summary (sizes, mean cost, first
    // two centroid coordinates as a spot-check of the model itself)
    val c0 = model.map { case (cell, c) =>
      when(col("cell") === cell, lit(c.head)) }.reduceRight(_.otherwise(_))
    val c1 = model.map { case (cell, c) =>
      when(col("cell") === cell, lit(c(1))) }.reduceRight(_.otherwise(_))
    e.select(array_min(dists(model)(col("v"))).as("a"))
      .select(col("a.cell").as("cell"), col("a.dist").as("dist"))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(round(col("dist") * 1e6, 0).cast("long")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("mean_cost"))
      .withColumn("c0", c0).withColumn("c1", c1)
  }

  /** `sim_kmeanspp` — k-means++ seeding (Arthur & Vassilvitskii 2007)
    * with the probabilistic D²-weighted draw DERANDOMIZED by the same
    * Gumbel-argmax device as samp11: round j picks
    * argmax[ round(ln(D²+1e-6), 6) + Gumbel_j(id) ] where D² is the
    * (6dp-rounded) squared distance to the nearest already-chosen
    * center and Gumbel_j(id) = −ln(−ln u) from md5("kpp:j:id") — a
    * point at an existing center (D² = 0, up to ε) is effectively
    * never picked, far points are overwhelmingly likely, and the draw
    * is a pure function of the data, reproducible on any engine. The
    * first pick is the pure-Gumbel argmax (a uniform draw). This is
    * the init [[kmeansLloyd]]'s first-k-vectors stand-in skips — the
    * piece that makes Lloyd robust to adversarial layouts.
    *
    * Scale shape: k driver rounds, each ONE argmax over the corpus
    * (TakeOrderedAndProject on a narrow key projection) against a
    * ≤k-center literal model — the kmeansLloyd collect discipline;
    * distances via the codegen'd l2_sq kernel; the final report is one
    * assignment pass + a k-row aggregation with exact integer-micro
    * cost sums. */
  def kmeansppInit(s: SparkSession, dir: String, k: Int = 6): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.cache()
    def gumbel(round: Int): Column =
      org.apache.spark.sql.functions.round(-log(-log(
        (pmod(md5Base60(
          concat_ws("", lit(s"kpp:$round:"), col("vec_id"))),
          lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0))), 6)
    var model = Seq.empty[(Long, Seq[Double])]
    try {
      def pick(key: Column): (Long, Seq[Double]) = {
        val r = e.select(col("vec_id"),
            transform(col("v"), x => round(x, 6)).as("c"), key.as("key"))
          .orderBy(col("key").desc, col("vec_id").asc).limit(1)
          .collect().head
        (r.getLong(0), r.getAs[collection.Seq[Double]]("c").toSeq)
      }
      model = Seq(pick(gumbel(0)))
      for (j <- 1 until k) {
        val cents = ModelLit.mat(model.map(_._2))
        val d2min = array_min(transform(cents, c =>
          round(l2Sq(col("v"), c), 6)))
        model = model :+ pick(
          round(log(d2min + lit(1e-6)), 6) + gumbel(j))
      }
    } finally e.unpersist(blocking = true)
    // report: each chosen center with its final D² partition
    val cents = ModelLit.cellsL(
      model.zipWithIndex.map { case ((_, c), i) => (i.toLong, c) },
      "cell", "c")
    val assign = array_min(transform(cents, c =>
      struct(round(l2Sq(col("v"), c.getField("c")), 6)
        .as("dist"), c.getField("cell").as("cell"))))
    val centerIds = model.zipWithIndex.map { case ((id, _), i) =>
      when(col("center_idx") === i.toLong, lit(id)) }
      .reduceRight(_.otherwise(_))
    Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(assign.as("a"))
      .groupBy(col("a.cell").as("center_idx"))
      .agg(count(lit(1)).as("n_members"),
        sum(round(col("a.dist") * 1e6, 0).cast("long"))
          .as("sum_d2_micros"))
      .select(col("center_idx"), centerIds.as("center_vec_id"),
        col("n_members"), col("sum_d2_micros"))
  }

  /** Centroid per label — the IVF coarse-quantizer training step: mean
    * vector by class, emitted as (label, dim, value) long-form so the
    * oracle can check it without array equality. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    e.select(col("label"), posexplode(col("embedding")))
      .filter(col("pos") < 4)
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(round(avg(col("col").cast("double")), 6).as("centroid"))
  }

  /** Higher-order-function battery over the embedding column: L1 norm
    * (transform+aggregate fold), positive-component count (filter),
    * max component (array_max), and the self-reversed dot product
    * (zip_with + fold). Everything is a narrow per-row projection —
    * zero exchanges, zero UDFs — demonstrating that vector arithmetic
    * belongs INSIDE the row pipeline, not in a driver loop or a Python
    * worker. Folds run left-to-right in double so any engine that sums
    * in array order reproduces them bit-for-bit.
    */
  def hofBattery(s: SparkSession, dir: String): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    Tables.embeddings(s, dir).filter(col("vec_id") < 50)
      .select(
        col("vec_id"),
        round(aggregate(transform(emb, x => abs(x)), lit(0.0d),
          (acc, x) => acc + x), 5).as("l1_norm"),
        size(filter(emb, x => x > 0)).cast("long").as("n_positive"),
        round(array_max(emb), 6).as("max_component"),
        round(aggregate(zip_with(emb, reverse(emb), (a, b) => a * b),
          lit(0.0d), (acc, x) => acc + x), 5).as("rev_dot"))
  }

  /** Johnson–Lindenstrauss random projection 64 → `outDim` dims — the
    * standard pre-step before clustering/ANN on high-dim embeddings
    * (Achlioptas ±1 projections preserve pairwise distances within
    * 1±ε at outDim = O(log n / ε²)). The ±1 sign matrix derives from
    * md5 parity, so it is a pure function both engines compute
    * identically — no RNG state, no shipped model file. Shape at
    * scale: the matrix is an `outDim`-row broadcast (the
    * broadcast-the-model pattern); the projection itself is a narrow
    * per-row zip_with/fold — zero exchanges over the corpus. Each
    * output coordinate folds left-to-right in double (exact ±1 signs,
    * exact float→double widening), is scaled by the JL factor
    * 1/√outDim (= 0.25 exactly at the default 16) and quantizes to
    * integer micros only at the output boundary, so the DuckDB twin
    * is bit-identical. */
  def randomProjection(s: SparkSession, dir: String,
                       outDim: Int = 16): DataFrame = {
    val scale = 1.0d / math.sqrt(outDim.toDouble)
    val signs = s.range(outDim).select(col("id").cast("int").as("j"))
      .select(col("j"), transform(sequence(lit(0), lit(63)), i =>
        when(md5Base60(
          concat(lit("rp_"), col("j"), lit("_"), i)) % 2 === 0, lit(1.0d))
          .otherwise(lit(-1.0d))).as("sgn"))
    Tables.embeddings(s, dir)
      .crossJoin(broadcast(signs))
      .select(col("vec_id"), col("j").cast("long").as("j"),
        round(lit(1e6) *
          aggregate(
            zip_with(col("embedding").cast("array<double>"), col("sgn"),
              (x, g) => x * g),
            lit(0.0d), (acc, v) => acc + v) * scale)
          .cast("long").as("y_micros"))
  }

  /** ANN index-quality harness (the [[Dedup.dedupEval]] twin for
    * similarity search): recall@10 of every approximate method — LSH,
    * IVF, scalar-quant, PQ — against the brute-force exact top-10 on
    * the same corpus and query. Each method's shortlist is ids-only
    * and joins a 10-row broadcast truth set, so the harness costs four
    * tiny joins on top of the methods themselves; a method whose
    * banding/probing collapses (the round-1 zero-recall defect class)
    * shows up as a missing or low row here, not as silent bad
    * neighbors downstream. */
  /** The exact top-10 truth id set, staged once per embeddings
    * fingerprint (a pure function of (corpus, query) — the CC/MST/BQ
    * staging convention). Shared by every recall harness (eval2's
    * nine-method table, the IVF and LSH depth curves, the freshness
    * eval) so none of them re-runs the brute-force scan per call. */
  private def truthStaged(s: SparkSession, dir: String): DataFrame = {
    val truthBase = Staging.base("ann_truth_v1", dir, "", "embeddings")
    Staging.buildOnce(truthBase) {
      annBruteForce(s, dir).select(col("vec_id"))
        .write.mode("overwrite").parquet(s"$truthBase/truth")
    }
    s.read.parquet(s"$truthBase/truth")
  }

  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val truth = broadcast(truthStaged(s, dir))
    // each method's top-10 shortlist is ALSO a pure function of
    // (corpus, method params) — stage the whole (method, vec_id) union
    // once per embeddings fingerprint, so a warm harness run is a
    // ≤90-row read + one tiny join instead of nine method executions.
    // The tag carries the method-set version: changing any method's
    // defaults (or the set) must bump it so stale shortlists can't
    // grade new code. Every method stays individually benched under
    // its own sim_ann_* driver key — this face is the recall REPORT.
    val slBase = Staging.base("ann_shortlists_v1", dir, "", "embeddings")
    Staging.buildOnce(slBase) {
      // the IVF-family coarse quantizer is one model — collect it once
      // and hand the literal to both methods instead of re-running the
      // centroid aggregation per method
      val cents = centLiteral(quantizer(Tables.embeddings(s, dir)).collect())
      Seq(
        ("bq", annBinaryQuant(s, dir)),
        ("ivf", annIvf(s, dir, sharedCents = Some(cents))),
        ("ivfpq", annIvfPq(s, dir, sharedCents = Some(cents))),
        ("ivfpq_idx", annIvfPqIndexed(s, dir)),
        ("lsh", annLsh(s, dir)),
        ("lsh_idx", annLshIndexed(s, dir)),
        ("lsh_multi", annLshMultiprobe(s, dir)),
        ("pq", annPq(s, dir)),
        ("sq", annScalarQuant(s, dir)))
        .map { case (m, df) => df.select(lit(m).as("method"), col("vec_id")) }
        .reduce(_ unionByName _)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$slBase/sl")
    }
    s.read.parquet(s"$slBase/sl")
      .join(truth, "vec_id")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("hits"))
      .select(col("method"), col("hits"),
        round(col("hits") / lit(10.0), 4).as("recall_at_10"))
  }

  /** IVF recall-vs-nprobe curve — THE index-tuning artifact: recall@10
    * against the brute-force truth at every probe depth 1..4, read to
    * pick the accuracy/latency point (each +1 probe reads one more
    * cell partition — [[annIvfIndexed]]'s cost model is linear in
    * nprobe, so this curve IS the tradeoff). Shares one collected
    * coarse quantizer across all depths (the [[annRecall]]
    * convention); the truth set broadcasts; the probe grid left-joins
    * so a zero-recall depth still emits its row.
    */
  def ivfRecallCurve(s: SparkSession, dir: String,
                     probes: Seq[Int] = 1 to 4): DataFrame = {
    import s.implicits._
    val truth = broadcast(truthStaged(s, dir))
    val cents = centLiteral(quantizer(Tables.embeddings(s, dir)).collect())
    val hits = probes.map { np =>
      annIvf(s, dir, nprobe = np, sharedCents = Some(cents))
        .select(lit(np.toLong).as("nprobe"), col("vec_id"))
    }.reduce(_ unionByName _)
      .join(truth, "vec_id")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("h"))
    probes.map(_.toLong).toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"),
        coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)) / lit(10.0), 4)
          .as("recall_at_10"))
  }

  /** LSH band-depth recall curve — [[ivfRecallCurve]]'s twin for the
    * banded-signature index: recall@10 against the brute-force truth
    * when only the first 1..bands query bands are probed. Each +1 band
    * is one more (band, bval) bucket lookup — [[annLshIndexed]]'s cost
    * model is linear in probed bands, so this curve IS the
    * accuracy/latency tradeoff for the persisted signature index. The
    * probe grid left-joins so a zero-recall depth still emits. */
  def lshBandCurve(s: SparkSession, dir: String,
                   depths: Seq[Int] = 1 to 4): DataFrame = {
    import s.implicits._
    val truth = broadcast(truthStaged(s, dir))
    // ONE query-band collect and ONE partitioned-index listing serve
    // every depth (r16): the per-arm annLshIndexed call re-collected
    // the identical 4 query band values and re-listed the partitioned
    // index directory once PER DEPTH — 4 driver jobs + 4 file listings
    // for one job's worth of information. Each arm below applies the
    // same static band filter annLshIndexed builds from the same
    // collected values, so results stay bit-identical per depth.
    val (qBands, bandsDf) = lshIndexParts(s, dir)
    val hits = depths.map { b =>
      annLshProbe(s, dir, bandsDf, qBands.filter(_._1 < b))
        .select(lit(b.toLong).as("n_bands"), col("vec_id"))
    }.reduce(_ unionByName _)
      .join(truth, "vec_id")
      .groupBy(col("n_bands"))
      .agg(count(lit(1)).as("h"))
    depths.map(_.toLong).toDF("n_bands")
      .join(hits, Seq("n_bands"), "left")
      .select(col("n_bands"),
        coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)) / lit(10.0), 4)
          .as("recall_at_10"))
  }

  /** Index-freshness eval — the "when do appended deltas justify
    * retraining?" question [[annIvfIndexedIncremental]]'s scaladoc
    * defers, answered with data: recall@10 against the brute-force
    * truth for (a) the FROZEN base-slice quantizer serving the full
    * corpus (exactly what the incremental index's frozen-model append
    * produces) vs (b) a quantizer RETRAINED over everything. The gap
    * between the two rows is the staleness cost of skipping the
    * rebuild; an operator owner reads this table to decide whether the
    * delta volume has drifted the cell structure enough to pay for
    * retraining. Same harness conventions as [[annRecall]]: broadcast
    * truth set, shared collected quantizers, left-joined variant grid
    * so a zero-recall variant still emits. */
  def indexFreshness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val truth = broadcast(truthStaged(s, dir))
    val e = Tables.embeddings(s, dir)
    val splitAt = e.agg(max(col("vec_id"))).head().getLong(0) / 2
    val variants = Seq(
      ("frozen_base", centsOf(e.filter(col("vec_id") <= splitAt))),
      ("retrained", centsOf(e)))
    val hits = variants.map { case (m, cents) =>
        annIvf(s, dir, sharedCents = Some(cents))
          .select(lit(m).as("variant"), col("vec_id"))
      }.reduce(_ unionByName _)
      .join(truth, "vec_id")
      .groupBy(col("variant")).agg(count(lit(1)).as("h"))
    variants.map(_._1).toDF("variant")
      .join(hits, Seq("variant"), "left")
      .select(col("variant"),
        coalesce(col("h"), lit(0L)).as("hits"),
        round(coalesce(col("h"), lit(0L)) / lit(10.0), 4)
          .as("recall_at_10"))
  }

  /** Maximal-marginal-relevance selection: from the relevance top-40
    * shortlist, greedily pick 8 results balancing query relevance
    * against redundancy with what is already picked —
    * score = 0.7·rel − 0.3·max_sim_to_selected. The diversity step
    * every retrieval-augmented pipeline runs after ANN so near-
    * duplicate hits don't crowd out coverage.
    *
    * Scale shape: the DATA-sized stage is the relevance scan +
    * TakeOrderedAndProject shortlist (same plan as [[annBruteForce]] —
    * at 100 TB swap in any indexed ANN face for the shortlist); the
    * greedy loop then runs on the collected shortlist×dims MODEL
    * (40×64 doubles — k-means-codebook-sized, never data). MMR is
    * inherently sequential in its selection steps, so the right
    * distribution is "distribute the shortlist, not the loop".
    *
    * Determinism: relevance and pairwise sims round to 6dp (the same
    * cosine accumulation order as the native kernel), MMR scores
    * quantize to micros before the argmax, ties break on vec_id — the
    * oracle replays the identical 8 selection rounds in chained CTEs. */
  def mmrSelect(s: SparkSession, dir: String, kSel: Int = 8,
                shortlist: Int = 40): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val short = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(
        e.filter(col("vec_id") === 0).select(col("embedding").as("q"))))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q")), 6).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(shortlist)
    val rows = short.collect()
    val ids = rows.map(_.getLong(0))
    val rel = rows.map(_.getDouble(1))
    val vecs = rows.map(_.getSeq[Float](2).map(_.toDouble).toArray)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // pairwise cosine, the native kernel's exact accumulation order
    def sim6(a: Int, b: Int): Double = {
      val (x, y) = (vecs(a), vecs(b))
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
      }
      round6(dot / (math.sqrt(nx) * math.sqrt(ny)))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double, Long)]
    (1 to math.min(kSel, ids.length)).foreach { r =>
      var best = -1; var bestScore = Long.MinValue; var bestMax = 0.0
      ids.indices.foreach { c =>
        if (!selected.contains(c)) {
          val ms =
            if (selected.isEmpty) 0.0 else selected.map(sim6(c, _)).max
          // HALF_UP (away from zero) like SQL round(), NOT math.round
          // (half toward +inf) — scores can be negative.
          val score = BigDecimal(1e6 * (0.7 * rel(c) - 0.3 * ms))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          if (score > bestScore ||
              (score == bestScore && best >= 0 && ids(c) < ids(best))) {
            best = c; bestScore = score; bestMax = ms
          }
        }
      }
      selected += best
      out += ((r.toLong, ids(best), rel(best), bestMax, bestScore))
    }
    import s.implicits._
    out.toSeq.toDF("sel_rank", "vec_id", "rel", "max_sim", "mmr_micros")
  }

  /** k-NN classification over the embedding corpus: for each query
    * vector (a capped deterministic slice, the eval convention), the
    * majority label of its `k` exact-cosine nearest neighbours
    * (self excluded). The label-propagation eval that closes the ANN
    * loop: recall (eval2) says the index finds the neighbours, this
    * says the neighbours carry signal.
    *
    * Scale shape: the query side broadcasts (n_q rows) against ONE
    * corpus scan; the top-k rank filter compiles through the
    * TopKPerKey heap exec, so ≤k rows per query survive the shuffle —
    * never a global sort. At 100 TB the scan side swaps for the
    * partition-pruned IVF index face (sim_ann_ivf_indexed); the
    * voting stage is unchanged. Determinism: scores round to 6dp
    * before ranking, vec_id breaks ties; k odd ⇒ no vote tie. */
  def knnClassify(s: SparkSession, dir: String, nQueries: Int = 32,
                  k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val q = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        (col("label") % 2).cast("long").as("true_label")))
    val scored = e.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("true_label"),
        (col("label") % 2).cast("long").as("nl"),
        col("vec_id"),
        round(cosine(col("embedding"), col("qv")), 6).as("cs"))
    val top = scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cs").desc, col("vec_id").asc)))
      .filter(col("rk") <= k)
    top.groupBy(col("q_id"), col("true_label"))
      .agg(sum(col("nl")).as("votes"))
      .select(col("q_id"), col("true_label"), col("votes"),
        (col("votes") * 2 > k).cast("long").as("pred_label"))
      .withColumn("correct",
        (col("pred_label") === col("true_label")).cast("long"))
  }

  /** `sim_hard_negatives` — hard-negative mining for contrastive
    * training (the DPR/SimCSE data op): for each anchor in a FIXED
    * query batch, the top-`k` most-similar vectors carrying a
    * DIFFERENT label — maximally confusable cross-class pairs, the
    * negatives that actually move an embedding model (random negatives
    * are trivially separable). Anchors are `vec_id ≡ 1 mod 83` capped
    * below 830 — a fixed ≤10-row batch at every SF (the spatial-kNN
    * capping convention), so the scan cost is O(corpus × |batch|)
    * LINEAR in the corpus, one broadcast-nested-loop pass; a serving
    * deployment would swap the scan for the IVF index per anchor,
    * exactly like annIvfIndexed.
    *
    * Determinism: 6dp-rounded cosine, (sim DESC, vec_id ASC)
    * row_number per anchor — the pinned-ordering convention. */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 5,
                    qMod: Int = 83, qCap: Int = 830): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, dir)
    val anchors = e.filter(col("vec_id") % qMod === 1 &&
        col("vec_id") < qCap)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = e.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("neg_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("q_label"), col("rnk"), col("neg_id"),
        col("neg_label"), col("cos_sim"))
  }
}
