package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Deduplication operators for a training-data pipeline: exact,
  * normalized-exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Every operator takes the corpus it is given (a DataFrame with
  * doc_id + text) — fixture augmentation lives in [[Fixtures]], not
  * here.
  *
  * Scale design: exact/normalized dedup is a hash-aggregate on a digest
  * (shuffle moves 16-byte keys, not documents). Candidate generation for
  * near-dup is always LSH-banded — the only self-join runs on small
  * (band, band-key) keys, so the quadratic blow-up is bounded per
  * bucket instead of global. Exact similarity is verified only on
  * candidate pairs. All hash seeds are md5-based (see
  * functions.Md5Base), so an independent engine can reproduce every
  * signature, band, and candidate set bit-for-bit — the oracles in
  * SparkEntry.oracleSql mirror these pipelines literally in DuckDB.
  */
object Dedup {

  private def toks(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Exact dedup: group documents by content digest, keep the smallest
    * doc_id as canonical. Shuffles digests only. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))

  /** The normalized-content digest: case-fold, strip non-alphanumerics,
    * collapse whitespace, md5. THE definition of "same content up to
    * formatting" — shared by [[normalized]] and
    * `Sampling.clusterSplit`, so dedup groups and leakage-safe split
    * groups agree by construction (an edit here changes both). */
  private[operators] def normHash(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))
      .cast("binary"))

  /** Normalized-exact dedup: [[normHash]]-group — catches
    * formatting-only duplicates. */
  def normalized(docs: DataFrame): DataFrame =
    docs
      .groupBy(normHash(col("text")).as("norm_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))

  /** Token-set (1-gram) Jaccard similarity — the exact-verification
    * kernel the LSH pipeline reuses, and the DuckDB-oracle-checkable
    * face of near-dup detection. Jaccard is a ratio of small ints ⇒
    * bit-exact on any engine. All-pairs: callers bound the corpus.
    */
  def jaccardPairs(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), array_distinct(toks(col("text"))).as("tset"))
    val a = d.select(col("doc_id").as("doc_a"), col("tset").as("set_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("tset").as("set_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** doc_id + 3-token shingles, tokenized ONCE into an attribute before
    * the shingle lambda touches it — inlining the tokenizer into the
    * slice lambda re-runs split+filter per shingle (O(tokens²) per
    * document; the Catalyst common-subexpression inlining trap). */
  private def shingled(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("tk"))
      .select(col("doc_id"), shingles(col("tk")).as("sh"))

  /** n-gram (3-token-shingle) Jaccard pairs — the exact-similarity
    * kernel at the shingle granularity MinHash approximates, small
    * enough for the all-pairs oracle to verify literally. Callers bound
    * the corpus. */
  def ngramJaccardPairs(docs: DataFrame,
                        threshold: Double = 0.5): DataFrame = {
    val d = shingled(docs)
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** PREFIX-FILTERED exact Jaccard pairs (AllPairs/PPJoin candidate
    * generation, Bayardo et al. / Chaudhuri et al.): tokens get a
    * global rarity order (df asc, token asc); each doc's candidate
    * PREFIX is its first |X| − ⌈t·|X|⌉ + 1 tokens in that order, and
    * two docs can clear Jaccard ≥ t only if their prefixes share a
    * token — so the candidate join runs on prefix postings (the rare
    * end of the vocabulary) instead of every token. Candidates then
    * verify with exact set Jaccard.
    *
    * This is the lossless fast path of the plain postings join: the
    * DuckDB oracle computes the UNFILTERED all-pairs Jaccard ≥ t, so
    * hash-equality per round is a standing proof the prefix filter
    * drops no pair. Scale: candidate cost concentrates on rare tokens
    * (df ≈ 1–2) — frequent tokens fall outside every prefix, which is
    * exactly the df-cap hygiene containmentPairs documents, derived
    * instead of tuned. The rank window is vocab-sized. */
  def prefixFilterPairs(docs: DataFrame,
                        threshold: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs
      .select(col("doc_id"), array_distinct(toks(col("text"))).as("tset"))
      .localCheckpoint(true) // feeds postings + both verify sides
    val post = d.select(col("doc_id"), explode(col("tset")).as("tok"))
    // global token-rarity rank over the VOCAB frame — vocab grows with
    // the corpus, so the rank comes from Ranking.withGlobalRank (range
    // partitions + offset broadcast, no single-partition sort;
    // bit-equal, (df, tok) is totally tie-broken)
    val rank = Ranking.withGlobalRank(
        post.groupBy(col("tok")).agg(count(lit(1)).as("df")),
        "trk", "__n", Seq(col("df").asc, col("tok").asc))
      .select(col("tok"), col("trk"))
    val prefix = post.join(broadcast(rank), Seq("tok"))
      .withColumn("p", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("trk"))))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("p") <=
        col("sz") - ceil(col("sz") * threshold) + lit(1))
      .select(col("tok"), col("doc_id"))
    val cand = prefix.select(col("tok"), col("doc_id").as("doc_a"))
      .join(prefix.select(col("tok"), col("doc_id").as("doc_b")), Seq("tok"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("tset").as("set_a")),
        Seq("doc_a"))
      .join(d.select(col("doc_id").as("doc_b"), col("tset").as("set_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT pairs — |A∩B| / |A| per ordered
    * pair, the sub-document-duplication signal Jaccard misses: a
    * paragraph pasted into a much longer page scores ~1.0 containment
    * but near-0 Jaccard. Emits (doc_src, doc_tgt, containment) where
    * ≥ `threshold` of doc_src's shingles also occur in doc_tgt.
    *
    * Scale shape: UNLIKE the all-pairs Jaccard baseline above, this is
    * the bucketed-candidate plan — explode to (shingle, doc) postings,
    * self-equi-join on the shingle key (cost Σ_g df(g)², bounded per
    * gram, never global n²), count per ordered pair = |A∩B| exactly
    * (shingle arrays are distinct per doc), then one join back to the
    * |A| sizes. A pair with zero shared shingles never materializes —
    * lossless for any threshold > 0. At 100 TB add a df cap on the
    * posting list (drop grams with df > D) — standard prefix-filter
    * hygiene; not needed at fixture scale. */
  def containmentPairs(docs: DataFrame,
                       threshold: Double = 0.8): DataFrame = {
    val d = shingled(docs)
    val post = d.select(col("doc_id"), explode(col("sh")).as("g"))
    val inter = post.select(col("g"), col("doc_id").as("doc_src"))
      .join(post.select(col("g"), col("doc_id").as("doc_tgt")), Seq("g"))
      .filter(col("doc_src") =!= col("doc_tgt"))
      .groupBy(col("doc_src"), col("doc_tgt"))
      .agg(count(lit(1)).as("inter"))
    val sizes = d.select(col("doc_id").as("doc_src"),
      size(col("sh")).cast("long").as("sz"))
    inter.join(sizes, Seq("doc_src"))
      .filter(col("inter").cast("double") / col("sz") >= threshold)
      .select(col("doc_src"), col("doc_tgt"), col("inter"), col("sz"),
        round(col("inter").cast("double") / col("sz"), 4).as("containment"))
  }

  /** Distinct n-token shingles via the native token_ngrams expression
    * (one O(tokens) pass, whole-doc fallback for short docs). The HOF
    * form it replaces re-ran an inlined tokenizer per element once
    * InferFiltersFromGenerate pushed a `size(…) > 0` filter below the
    * consuming explode — see TextAnalysis.grams for the measurement. */
  private def shingles(ts: Column, n: Int = 3): Column =
    array_distinct(tokenNgrams(ts, n))

  /** MinHash signature: k = 16 permutation-minima over shingle hashes —
    * the native MinHashSig expression (one pass, one md5 per shingle,
    * no per-shingle array allocation; see functions.MinHashSig and its
    * equivalence test against the higher-order-function fold). */
  private def minhashSig(sh: Column): Column =
    minhashSig16(sh)

  /** MinHash + LSH banding: 4 bands × 4 rows. Same band slice ⇒
    * candidate pair; candidates are verified with exact shingle-Jaccard.
    * The band join key is (band_idx, band_key) — cardinality ~n_docs per
    * band, so the self-join is an equi-join Spark shuffles on a small key,
    * never an O(n²) cross product. Candidates are distinct'd as bare id
    * pairs BEFORE the shingle sets are joined back — the wide arrays never
    * enter the shuffle or the distinct. The band key is the joined
    * signature slice itself (≤ 43 bytes), not a hash of it, so the
    * DuckDB oracle mirrors the candidate set exactly.
    */
  /** MinHash estimator-error calibration — the sketch-quality check
    * behind every LSH threshold choice: over the banded candidate
    * pairs, compare the signature's similarity estimate (matching
    * coordinates / 16) against the exact shingle Jaccard and histogram
    * the absolute error in deciles. A healthy k=16 sketch concentrates
    * in the first two buckets (σ = √(s(1−s)/16) ≈ 0.125 at s = 0.5);
    * mass in the tail means the banding threshold is lying.
    *
    * Scale shape: identical to [[minhashLsh]] (staged shingles, banded
    * candidate equi-join — never all-pairs) plus one signature join;
    * the histogram is a ≤10-row aggregate. Determinism: est = k/16 is
    * exact binary; the exact Jaccard divide and the decile floor are
    * the same IEEE ops in both engines. */
  def minhashErrorProfile(s: SparkSession, docs: DataFrame): DataFrame = {
    val shDocs = stagedShingles(s, docs)
    val sigs = shDocs.select(col("doc_id"), minhashSig(col("sh")).as("sig"))
      .repartition(col("doc_id"))
      .localCheckpoint(true) // feeds the bands AND both pair sides
    bandedCandidates(sigs)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .join(shDocs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(shDocs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(
        (size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), v => v)).cast("double") / 16.0).as("est"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("exact"))
      .select(least(floor(abs(col("est") - col("exact")) * 10), lit(9.0))
        .cast("long").as("err_decile"))
      .groupBy(col("err_decile")).agg(count(lit(1)).as("n_pairs"))
  }

  /** Cluster-size histogram of the near-dup components — the shape
    * check after clustering ([[connectedComponents]] labels documents;
    * this says whether dedup found scattered pairs or a few giant
    * template families — a size-100 cluster usually means boilerplate,
    * not plagiarism, and wants a different treatment than pair
    * removal). Two model-frame aggregations over the labels.
    */
  def clusterSizes(labels: DataFrame): DataFrame =
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Dedup threshold curve — how many near-dup pairs each Jaccard
    * cutoff would act on, the sensitivity sweep a curation team reads
    * before COMMITTING to a threshold (0.5 keeps templates together,
    * 0.9 only exact-ish copies; the knee of this curve is the
    * decision): per threshold in {0.5 .. 0.9}, the count of banded
    * candidate pairs at or above it. One candidate pass
    * ([[minhashLsh]] at threshold 0) feeds every cutoff via a
    * broadcast threshold grid; a cutoff with zero pairs still emits
    * its row.
    */
  def dedupThresholdCurve(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // RAW jaccard, the same value minhashLsh thresholds on — sweeping
    // the 4dp-ROUNDED output column instead would count a boundary
    // pair (e.g. 0.49996 → 0.5000) that minhashLsh(0.5) excludes
    val pairs = candidateJaccardRaw(s, docs)
    val grid = Seq(50L, 60L, 70L, 80L, 90L).toDF("threshold_pct")
    val counts = pairs.crossJoin(broadcast(grid))
      .filter(col("jaccard_raw") >=
        col("threshold_pct").cast("double") / 100.0)
      .groupBy(col("threshold_pct")).agg(count(lit(1)).as("c"))
    grid.join(counts, Seq("threshold_pct"), "left")
      .select(col("threshold_pct"),
        coalesce(col("c"), lit(0L)).as("n_pairs"))
  }

  /** Staged per-doc shingle sets — checkpoint-the-intermediate: the
    * shingle sets feed three subtrees (signatures + both verification
    * sides). Staged to storage (one eager write, columnar reads), NOT
    * .cache(): a cache referenced by a RETURNED plan can never be
    * unpersisted by the operator, so a long-lived session would
    * accumulate executor storage (the round-1 bench artifact); at
    * 100 TB a corpus-sized intermediate doesn't fit executor memory
    * anyway. Keyed by the input's semantic hash so a different input
    * stages elsewhere; the same input re-stages identical content
    * (benign overwrite, disk bounded per distinct input). ONE path
    * shared by every MinHash-family operator on the same input. */
  private def stagedShingles(s: SparkSession, docs: DataFrame): DataFrame = {
    val shPath = "/tmp/graft_stage_minhash_sh_" +
      Integer.toHexString(docs.queryExecution.analyzed.semanticHash())
    shingled(docs).write.mode("overwrite").parquet(shPath)
    s.read.parquet(shPath)
  }

  /** (doc_id, sig, band, band_key) rows — the shingle→MinHash→band
    * kernel as a STATELESS narrow projection, shared with the
    * streaming within-stream near-dup face
    * ([[graft.streaming.EventStreams.nearDupStream]]): a streaming
    * micro-batch runs the identical expressions, so stream and batch
    * bucket identically by construction. (No staging here — a
    * streaming plan cannot read per-call scratch parquet.) */
  def bandSignatureRows(docs: DataFrame): DataFrame = {
    bandKeys(shingled(docs)
      .select(col("doc_id"), minhashSig(col("sh")).as("sig")),
      col("doc_id"), col("sig"))
  }

  /** THE 4-band × 4-slot MinHash band explode over a `sig` column —
    * one definition shared by the batch LSH candidate generator, the
    * cross-corpus near-dup sides, and (via [[bandSignatureRows]]) the
    * streaming within-stream face, so every banded consumer buckets
    * identically by construction. `keep` = the columns to carry. */
  private def bandKeys(withSig: DataFrame, keep: Column*): DataFrame =
    withSig
      .select(keep :+ posexplode(transform(sequence(lit(0), lit(3)),
        b => concat_ws("_", slice(col("sig"), b * 4 + 1, lit(4))))): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))

  /** Banded LSH candidate pairs from a (doc_id, sig) frame — 4 bands ×
    * 4 rows, equi-join on (band, band_key), ordered distinct pairs.
    * THE candidate generator shared by [[minhashLsh]],
    * [[minhashErrorProfile]] and [[dedupThresholdCurve]]. */
  private def bandedCandidates(sigs: DataFrame): DataFrame = {
    val bands = bandKeys(sigs, col("doc_id"))
    bands.select(col("doc_id").as("doc_a"), col("band"), col("band_key"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Candidate pairs with the RAW (un-rounded) exact shingle Jaccard —
    * the value every cutoff decision compares against; callers round
    * only at their output boundary. */
  private def candidateJaccardRaw(s: SparkSession,
                                  docs: DataFrame): DataFrame = {
    val shDocs = stagedShingles(s, docs)
    val sigs = shDocs
      .select(col("doc_id"), minhashSig(col("sh")).as("sig"))
      // repartition = projection barrier + the "bucket once, probe
      // many" layout the same pipeline uses at scale
      .repartition(col("doc_id"))
    bandedCandidates(sigs)
      .join(shDocs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        "doc_a")
      .join(shDocs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard_raw"))
  }

  def minhashLsh(s: SparkSession, docs: DataFrame,
                 threshold: Double = 0.5): DataFrame =
    candidateJaccardRaw(s, docs)
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard_raw"), 4).as("jaccard"))

  /** Character-level fuzzy duplicate pairs — the typo-grade granularity
    * the token-level family (shingles, MinHash, SimHash) cannot see:
    * all pairs within edit distance ≤ d, found WITHOUT an all-pairs
    * comparison.
    *
    * Candidate generation is multiset q-gram count filtering (Gravano
    * et al., VLDB'01 — the signature scheme the ICDE'22
    * string-similarity line builds on): ed(s,t) ≤ d implies the q-gram
    * multisets share ≥ max(|s|,|t|) − q + 1 − d·q grams, so candidates
    * come from an EQUI-JOIN on (gram, occurrence-rank) — the
    * occurrence rank makes the join count Σ_g min(m_s(g), m_t(g)), the
    * exact multiset intersection — followed by a count filter and a
    * ±d length window. The condition is NECESSARY, so the candidate
    * set provably contains every true pair; exact `levenshtein`
    * (a Spark builtin, O(len²) per pair) then runs on candidates only.
    * Output is therefore EXACTLY the ed ≤ d pairs — the oracle is the
    * plain quadratic form, no signature replay needed.
    *
    * Scale shape: grams shuffle on (gram, k) — bounded skew since rank
    * splits repeated grams — candidate pairs aggregate as bare id
    * pairs, and the strings join back only for the verification sliver.
    * Strings shorter than q·(d+1)+2 are excluded (the count bound
    * degenerates below q·(d+1)); callers route short strings to an
    * exact hash join instead.
    */
  def fuzzyPairs(docs: DataFrame, d: Int = 2, q: Int = 2): DataFrame = {
    val strs = docs.select(col("doc_id"), col("s"))
      .filter(length(col("s")) >= q * (d + 1) + 2)
    val grams = strs.select(col("doc_id"), length(col("s")).as("len"),
      explode(transform(sequence(lit(1), length(col("s")) - q + 1),
        i => col("s").substr(i, lit(q)))).as("gram"))
    val withOcc = grams
      .groupBy(col("doc_id"), col("len"), col("gram"))
      .agg(count(lit(1)).as("m"))
      .select(col("doc_id"), col("len"), col("gram"),
        explode(sequence(lit(1), col("m"))).as("k"))
    val candidates = withOcc
      .select(col("doc_id").as("doc_a"), col("len").as("len_a"),
        col("gram"), col("k"))
      .join(withOcc.select(col("doc_id").as("doc_b"),
        col("len").as("len_b"), col("gram"), col("k")), Seq("gram", "k"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= d)
      .groupBy(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >=
        greatest(col("len_a"), col("len_b")) - lit(q - 1) - lit(d * q))
    candidates
      .join(strs.select(col("doc_id").as("doc_a"), col("s").as("s_a")), "doc_a")
      .join(strs.select(col("doc_id").as("doc_b"), col("s").as("s_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("s_a"), col("s_b")).cast("long").as("dist"))
      .filter(col("dist") <= d)
  }

  /** Connected components over a near-duplicate pair list — the step
    * that turns LSH/SimHash pair output into dedup clusters: every
    * document gets the minimum doc_id of its component as the cluster
    * label, and the label-owner is the canonical copy to keep.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Each
    * round rewires every node's strictly-larger neighbors (large-star),
    * then every node's smaller neighbors plus itself (small-star), to
    * the minimum of the neighborhood; the edge set converges to one
    * star per component — every node pointing at the component minimum
    * — in O(log n) rounds on ANY graph shape, including the adversarial
    * long-chain graphs where min-label propagation needs O(diameter).
    *
    * Scale design: each star operation is one map-side-combined min
    * aggregation plus one equi-join, shuffling bare (src, dst) long
    * pairs. Each round's edge set is staged to disk (the MapReduce
    * formulation's own shape) — lineage is cut without localCheckpoint,
    * so NO cached RDDs accumulate across rounds or outlive the call.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    ccWithRounds(pairs, maxIter)._1

  /** Large-star: for each node u, connect every strictly-larger
    * neighbor to min(Γ(u) ∪ {u}). Edges always point high → low. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: for each node u, connect u and all its smaller
    * neighbors to the minimum of that set. */
  private def smallStar(e: DataFrame): DataFrame = {
    val canon = e.select(greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v")).distinct()
    val mins = canon.groupBy("u").agg(min("v").as("m"))
    canon.join(mins, "u")
      .select(col("v").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** [[connectedComponents]] plus the round count the convergence spec
    * asserts against the O(log n) bound. */
  def ccWithRounds(pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val s = pairs.sparkSession
    // loop rounds materialize IN MEMORY (eager localCheckpoint — an
    // iterative plan otherwise doubles per round and replays from the
    // source) inside a Staging.scratch scope, and the converged edge
    // set is staged to disk ONCE so the returned plan depends on no
    // transient storage. O(log n) rounds keeps the in-loop footprint
    // to two edge-set snapshots.
    val nodes = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
    // keyed by the edge set's semantic hash — see minhashLsh's staging
    // note (a second cc over different pairs must not clobber the
    // parquet a still-live earlier result plan reads) — PLUS the
    // source-file fingerprint, so file-backed builds can be reused
    // across calls (the Staging protocol: a regenerated corpus changes
    // the fingerprint and lands in a different directory)
    val srcFiles = pairs.inputFiles.sorted
    // real digest over the sorted path:length:mtime list — an XOR fold
    // of per-file words can cancel ACROSS files; md5 of the full list
    // cannot. (It still keys on metadata only: a file regenerated with
    // identical length within the mtime granularity collides — if that
    // staleness case matters for a deployment, fold a content sample
    // into the fingerprint.)
    val fp = Staging.digestHex(srcFiles.map { f =>
      val fl = new java.io.File(new java.net.URI(f).getPath)
      s"$f:${fl.length()}:${fl.lastModified()}"
    }.mkString("\n"))
    val finalPath = "/tmp/graft_stage_cc_" +
      Integer.toHexString(pairs.queryExecution.analyzed.semanticHash()) +
      "_" + fp
    // file-backed edge sets reuse a completed build (warm calls skip
    // the whole star loop); purely in-memory inputs (specs, ad-hoc
    // frames) have no fingerprint to trust and always rebuild —
    // exactly the pre-staging semantics, including the round count
    // the convergence spec asserts on
    val marker = new java.io.File(s"$finalPath/_built")
    val reusable = srcFiles.nonEmpty && marker.exists()
    var rounds = 0
    if (!reusable) Staging.scratch(s) {
      // Lineage.cut, not bare localCheckpoint: each star round's tree
      // references `cur` several times, so preserved stats would
      // compound doubly-exponentially across rounds (the round-9
      // Borůvka finding — see Lineage)
      var cur = Lineage.cut(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .filter(col("src") =!= col("dst")).distinct())
      var done = cur.isEmpty
      while (!done && rounds < maxIter) {
        val next = Lineage.cut(smallStar(largeStar(cur)))
        // && short-circuits: the except anti-join runs only on the
        // (rare) rounds where the cardinality already matches
        done = next.count() == cur.count() && next.except(cur).isEmpty
        cur = next
        rounds += 1
      }
      cur.write.mode("overwrite").parquet(finalPath)
      if (srcFiles.nonEmpty) marker.createNewFile()
    }
    val stars = s.read.parquet(finalPath)
    val lab = stars.groupBy(col("src")).agg(min(col("dst")).as("mn"))
    val labels = nodes
      .join(lab, nodes("id") === lab("src"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("mn"), col("id")).as("component"))
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).cast("long").as("is_canonical"))
    (labels, rounds)
  }

  /** Canonical-representative selection: after near-dup clustering,
    * the curation decision is WHICH member of each cluster to keep.
    * min-doc_id (connectedComponents' `is_canonical`) is arbitrary;
    * this picks the best-quality member — longest text, ties pinned to
    * the smaller doc_id — and reports the cluster's size alongside.
    *
    * Scale shape: the cluster labels are (id, label) longs, quality is
    * a narrow per-row projection of the corpus, and the argmax is one
    * window partitioned by component — a single shuffle keyed on
    * component labels, never on text. Singleton documents (no near-dup
    * edge) don't reach the clustering and are implicitly kept; only
    * actual dup groups appear here. */
  def canonicalPick(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
      .select(col("doc_id"), col("component"))
    val quality = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("n_chars_m").desc, col("doc_id").asc)
    comp.join(quality, "doc_id")
      .select(col("component"), col("doc_id"), col("n_chars_m"),
        row_number().over(w).cast("long").as("rk"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("component")))
          .as("n_members"))
      .filter(col("rk") === 1L)
      .select(col("component"), col("doc_id").as("keep_doc"),
        col("n_chars_m").as("kept_chars"), col("n_members"))
  }

  /** Incremental (cross-batch) dedup: keep only the batch documents
    * whose content is absent from an already-ingested history.
    *
    * The 100 TB shape: the history is petabyte-scale, the nightly batch
    * is not. Anti-joining the batch against raw history digests would
    * shuffle the full history ledger every night; instead the history is
    * collapsed once into a broadcast bloom filter (Spark's own
    * runtime-join-filter expressions, exposed via
    * [[graft.functions.Kernels]]). Blooms have no false
    * negatives, so batch rows the filter rejects are *definitively* new
    * and never touch a shuffle; only the might-contain survivors (true
    * duplicates + the ~fpp sliver of false positives) proceed to the
    * exact digest anti-join. Result is bit-identical to the plain
    * anti-join the oracle runs — the bloom only prunes work.
    *
    * Sizing: numBits is a caller decision from history cardinality
    * (here 8M bits ≈ 1 MB broadcast for ~1M items at fpp≈2%; at real
    * scale size from table stats, or band by digest prefix into a
    * bloom per partition). */
  def incremental(history: DataFrame, batch: DataFrame): DataFrame = {
    // might_contain requires its bloom as a constant or scalar
    // subquery (the same contract Spark's injected runtime join
    // filters use) — the subquery runs once and ships to executors
    // as a literal, so the batch side stays a narrow scan.
    val hist = history.select(xxhash64(col("text")).as("h64"),
      md5(col("text")).as("h_digest"))
    val bloom = hist.select(bloomAgg(col("h64"), 1000000L, 8000000L)).scalar()
    val tagged = batch
      .withColumn("maybe_dup", bloomMightContain(bloom, xxhash64(col("text"))))
      .select(col("doc_id"), col("text"), col("maybe_dup"))
    val definitelyNew = tagged.filter(!col("maybe_dup"))
    val survivors = tagged.filter(col("maybe_dup"))
      .join(hist.select(col("h_digest")).distinct(),
        md5(col("text")) === col("h_digest"), "left_anti")
    definitelyNew.unionByName(survivors)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
  }

  /** Cross-corpus NEAR-duplicate classification — the fuzzy twin of
    * [[incremental]]: a new crawl batch is checked against the indexed
    * HISTORY for MinHash-LSH near-duplicates (not just byte-identical
    * content). Candidates come from an equi-join of the batch's band
    * table against the history's band table — never history × batch —
    * and are verified with the exact shingle Jaccard before the
    * per-document rollup (how many history docs it near-duplicates,
    * and the best score). Same signature/banding kernel as
    * [[minhashLsh]], so the DuckDB oracle replays both sides from one
    * CTE chain over history ∪ batch.
    *
    * At 100 TB the history band table is the INDEX: staged once,
    * partitioned by band, reused across batches (the bm25Indexed
    * pattern); each arriving batch computes only its own signatures
    * and probes matched band buckets. The streaming face
    * (`EventStreams.nearDupDocStream`) applies exactly this function
    * per micro-batch via foreachBatch. */
  def nearDupCross(s: SparkSession, history: DataFrame, batch: DataFrame,
                   threshold: Double = 0.5): DataFrame = {
    // resultOnce scopes the side checkpoints, file-backed (history,
    // batch) pairs reuse a completed classification, and the returned
    // plan depends on no transient storage
    Staging.resultOnce("neardup_cross_v1",
      s"t${math.round(threshold * 10000)}", Seq(history, batch)) {
      val (hSh, hBands) = nearDupSides(history)
      val (bSh, bBands) = nearDupSides(batch)
      nearDupClassify(hSh, hBands, bSh, bBands, threshold)
    }
  }

  /** One side's (shingles, band table) for the cross-corpus near-dup
    * faces — materialized once because the shingle+signature
    * projection feeds BOTH the band table and the verify join-back
    * (the round-8 regression flag). */
  private def nearDupSides(docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = shingled(docs).localCheckpoint(true)
    (sh, nearDupBands(sh))
  }

  private def nearDupBands(sh: DataFrame): DataFrame =
    bandKeys(sh.select(col("doc_id"), minhashSig(col("sh")).as("sig")),
      col("doc_id"))

  /** The shared candidate-then-verify tail: bare id pairs before the
    * wide shingle arrays join back — the minhashLsh discipline (arrays
    * never enter the candidate shuffle). */
  private def nearDupClassify(hSh: DataFrame, hBands: DataFrame,
                              bSh: DataFrame, bBands: DataFrame,
                              threshold: Double): DataFrame = {
    val cand = hBands
      .select(col("doc_id").as("hist_doc"), col("band"), col("band_key"))
      .join(bBands, Seq("band", "band_key"))
      .select(col("hist_doc"), col("doc_id")).distinct()
    val jRaw = size(array_intersect(col("sh_h"), col("sh_b"))).cast("double") /
      size(array_union(col("sh_h"), col("sh_b")))
    cand
      .join(hSh.select(col("doc_id").as("hist_doc"), col("sh").as("sh_h")),
        "hist_doc")
      .join(bSh.select(col("doc_id"), col("sh").as("sh_b")), "doc_id")
      .select(col("doc_id"), jRaw.as("j_raw"))
      .filter(col("j_raw") >= threshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"),
        round(max(col("j_raw")), 4).as("best_jaccard"))
  }

  /** [[nearDupCross]] against a PERSISTED history index — the staged
    * realization of the scaladoc's 100 TB claim (the bm25Indexed
    * pattern): the history's shingle frame and minhash band table are
    * built once per corpus fingerprint and written as parquet, bands
    * partitioned by `band` so a probe reads only matched band
    * directories; each arriving batch computes only its own
    * signatures. Result contract is bit-equal to [[nearDupCross]]
    * (same oracle SQL), which Round9Spec pins. */
  def nearDupCrossIndexed(s: SparkSession, history: DataFrame,
                          batch: DataFrame, dir: String,
                          threshold: Double = 0.5): DataFrame = {
    // the staging key must identify the HISTORY INPUT, not just dir:
    // a caller passing a different history frame for the same corpus
    // must not be served the previously staged index (the plan's
    // semantic hash is stable for the file-backed default call)
    val histId = Integer.toHexString(
      history.queryExecution.analyzed.semanticHash())
    val base = Staging.base("neardup_index_v2", dir, s"h$histId",
      "documents")
    Staging.buildOnce(base) { Staging.scratch(s) {
      val sh = shingled(history).localCheckpoint(true)
      sh.write.mode("overwrite").parquet(s"$base/shingles")
      nearDupBands(sh).write.mode("overwrite")
        .partitionBy("band").parquet(s"$base/bands")
    } }
    val hSh = s.read.parquet(s"$base/shingles")
    val hBands = s.read.parquet(s"$base/bands")
      .select(col("doc_id"), col("band").cast("int"), col("band_key"))
    Staging.resultOnce("neardup_cross_idx_v1",
      s"t${math.round(threshold * 10000)}", Seq(history, batch)) {
      val (bSh, bBands) = nearDupSides(batch)
      nearDupClassify(hSh, hBands, bSh, bBands, threshold)
    }
  }

  /** 60-bit SimHash per document: per-token md5-60 hash, each bit votes
    * ±1 (weighted by token frequency via repetition), sign of the vote
    * vector becomes the fingerprint bit — via the native SimHash60
    * expression (one pass, one vote buffer per row). */
  def simhash(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      simhash60(toks(col("text"))).as("simhash"))
  }

  /** SimHash near-dup pairs: band the 60-bit fingerprint into 4×15-bit
    * chunks (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal), join on
    * chunk equality, verify with bit_count(xor). */
  def simhashPairs(s: SparkSession, docs: DataFrame,
                   maxHamming: Int = 10): DataFrame = {
    // checkpointed: the banded self-join references this frame on BOTH
    // sides, and each reference re-ran tokenize+simhash60 over the
    // corpus (2 scans; the fingerprint is 16 bytes/row — the guide-§8
    // lightweight proxy, computed once and joined twice)
    val sh = simhash(docs).localCheckpoint(true)
    val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftright", col("simhash"), b * 15)
            .bitwiseAND(0x7FFFL))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "chunk"))
    val l = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("sim_a"), col("band"), col("chunk"))
    val r = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("sim_b"), col("band"), col("chunk"))
    l.join(r, Seq("band", "chunk")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Approximation-quality harness: precision/recall of each
    * approximate dedup method against the exact n-gram-Jaccard ground
    * truth ON THE SAME CORPUS. MinHash-LSH verifies candidates with the
    * exact metric, so its precision is 1.0 by construction and the
    * number under test is banding RECALL (the round-1 zero-recall LSH
    * bug is exactly what this row would have flagged); SimHash bands
    * threshold on Hamming distance, so both error directions are live.
    * The confusion counts come from one full-outer join of bare id
    * pairs per method — the harness costs two tiny joins, not a rescan.
    */
  def dedupEval(s: SparkSession, corpus: DataFrame): DataFrame = {
    val truth = ngramJaccardPairs(corpus)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_truth"))
    def confusion(method: String, pred: DataFrame): DataFrame =
      pred.select(col("doc_a"), col("doc_b"), lit(1L).as("in_pred"))
        .join(truth, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(when(col("in_pred") === 1 && col("in_truth") === 1, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("in_pred") === 1 && col("in_truth").isNull, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("in_pred").isNull && col("in_truth") === 1, 1L)
            .otherwise(0L)).as("fn"))
        .select(lit(method).as("method"), col("tp"), col("fp"), col("fn"),
          round(col("tp") / greatest(col("tp") + col("fp"), lit(1L)), 6)
            .as("prec"),
          round(col("tp") / greatest(col("tp") + col("fn"), lit(1L)), 6)
            .as("recall"))
    confusion("minhash_lsh", minhashLsh(s, corpus))
      .unionByName(confusion("simhash_band", simhashPairs(s, corpus)))
  }

  /** Duplicated-span detection (substring dedup, Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better",
    * approximated at n-gram-span granularity): for each document, how
    * many of its n-token spans also appear in ANOTHER document. Spans
    * are keyed by md5 digest, so the two shuffles (span→doc-frequency,
    * doc→rollup) carry fixed-width keys, never text — and the digest is
    * engine-reproducible, which is what lets DuckDB replay the whole
    * computation as the oracle. Distinct spans per doc first (a narrow
    * array_distinct), so a span repeated inside one doc doesn't count
    * itself as cross-doc. At 100 TB the span→count map is the big
    * intermediate; both aggregations partial-aggregate map-side.
    */
  /** Positional n-gram span digests of a token array: element i is
    * md5(tokens[i..i+n)). THE span definition shared by [[dupSpans]]
    * and [[spanStrip]] — their accounting/rewrite correspondence only
    * holds while both key spans identically. */
  private def spanHashes(tk: Column, n: Int): Column = {
    // native gram pass + per-element md5 on the lambda-bound gram
    // (never a recomputed child — see TextAnalysis.grams); both
    // callers guard size(tk) >= n so the whole-short fallback gram is
    // unreachable
    transform(tokenNgrams(tk, n), g => md5(g))
  }

  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val tk = col("tk")
    val spans = when(size(tk) >= n, array_distinct(spanHashes(tk, n)))
      .otherwise(array(md5(concat_ws(" ", tk))))
    // materialized once: the tokenize+hash+explode projection feeds
    // BOTH the doc-frequency rollup and the join-back (the round-8
    // nearDupSides discipline — without this the corpus tokenization
    // runs twice in one plan). Staged through resultOnce, not
    // localCheckpoint (r15): the returned lazy plan kept the
    // checkpointed corpus×spans RDD alive with no unpersist path, so
    // repeated battery calls accumulated cached RDDs for the session
    // lifetime; the parquet round trip is exit-reaped scratch (or a
    // fingerprint-keyed reusable stage when `docs` is file-backed —
    // the driver path), and at 100 TB the same projection is a
    // partitioned staging write, derive-once/read-many.
    val docSpans = Staging.resultOnce("dupspans_proj", s"n$n", Seq(docs)) {
      docs.select(col("doc_id"), toks(col("text")).as("tk"))
        .select(col("doc_id"), explode(spans).as("span"))
    }
    val spanDf = docSpans.groupBy(col("span"))
      .agg(count(lit(1)).as("df")) // distinct-per-doc ⇒ count == doc freq
    docSpans.join(spanDf, "span")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans") / col("n_spans"), 6).as("dup_frac"),
        (col("n_dup_spans") * 2 <= col("n_spans")).as("keep"))
  }

  /** Cross-document duplicated-span REMOVAL — the rewrite step behind
    * [[dupSpans]]' accounting (substring-level dedup à la "Deduplicating
    * Training Data Makes Language Models Better": an n-gram span that
    * appears in more than one document is boilerplate; every token it
    * covers is stripped and the per-doc cleaned text is rebuilt).
    *
    * Scale shape: span starts are a narrow posexplode of [[spanHashes]]
    * (positions matter here, unlike dupSpans' distinct counting);
    * doc-frequency is one map-side-combined aggregation over 16-byte
    * span hashes; coverage explodes each duplicated occurrence into its
    * n positions (bounded by n × dup occurrences); the strip is a
    * left-anti join on (doc_id, pos) longs; the rebuild is one per-doc
    * aggregation whose ordered array_sort keeps the result
    * engine-independent. No text is ever shuffled except the kept
    * tokens of the final rebuild — and a production pipeline would
    * write those out anyway. */
  def spanStrip(docs: DataFrame, n: Int = 8): DataFrame = {
    val tokens = docs.select(col("doc_id"), toks(col("text")).as("tk"))
    val starts = tokens
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), posexplode(spanHashes(col("tk"), n)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("span"))
    val dup = starts.select(col("doc_id"), col("span")).distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .select(col("span"))
    val covered = starts.join(dup, "span")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .distinct()
    val positions = tokens
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("p"), col("tok"))
    val kept = positions.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          s => s.getField("tok"))).as("clean"))
    tokens.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("clean"), lit("")).cast("binary")).as("clean_hash"),
        substring(coalesce(col("clean"), lit("")), 1, 60).as("clean_head"))
  }
}
