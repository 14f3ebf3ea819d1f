package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Sampling operators for a training-data pipeline.
  *
  * The reference's sampler (systematic 1-in-k, SURVEY §2 S6) lives in
  * Audits.s6Sample; this adds the stratified variant a data-mixture
  * pipeline needs: different keep-rates per stratum (language, source,
  * quality bucket) applied in ONE pass.
  *
  * Scale design: membership is a pure function of the row key — a
  * uniform md5-derived bucket in [0, 100) compared against the
  * stratum's rate — so the sample is a narrow stateless filter: no
  * shuffle, no per-stratum pre-counts, no driver state, reproducible
  * on re-runs and across engines (the DuckDB oracle replays the same
  * md5 arithmetic). `sampleBy` offers the same semantics but seeds its
  * hash from a JVM RNG; deriving the bucket from the data keeps lineage
  * stable when files are recomputed or backfilled.
  */
object Sampling {

  /** Uniform bucket in [0, 100): top 60 bits of md5 of the key, mod 100
    * — the same md5-hex bridge every graft hash pipeline uses
    * (functions.Md5Base), so any engine reproduces membership exactly.
    * The hash is the native codegen'd md5_base60 expression (digest
    * bytes → long; no hex-string round-trip per row). */
  def bucket100(key: Column): Column =
    pmod(md5Base60(key.cast("string")), lit(100))

  /** Stratified sample of `docs` by `lang`: keep `rates(lang)` percent
    * of each stratum (`default` percent for unlisted strata). */
  def stratifiedByLang(docs: DataFrame, rates: Map[String, Int],
                       default: Int): DataFrame = {
    val rate = rates.foldLeft(lit(default)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    docs
      .withColumn("bucket", bucket100(col("doc_id")))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
  }

  /** Deterministic train/val/test split: membership is a pure function
    * of the row key (md5 bucket), so the split is a narrow stateless
    * projection — no shuffle, no RNG, no driver state — and re-running
    * over a backfilled or recomputed corpus assigns every document to
    * the SAME side. That stability is the leakage guarantee a training
    * pipeline needs: a test document can never drift into train between
    * runs, which is exactly the failure mode of `randomSplit` (JVM-seed
    * RNG over a nondeterministic row order). */
  def trainTestSplit(docs: DataFrame, trainPct: Int = 80,
                     valPct: Int = 10): DataFrame =
    docs.withColumn("bucket", bucket100(col("doc_id")))
      .select(col("doc_id"), col("lang"),
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")).as("split"))

  /** Leakage-safe train/val/test split: bucket membership hashes the
    * CLUSTER canonical id, not the document id, so exact/normalized
    * duplicates of the same content can never straddle a split boundary
    * — the contamination mode [[trainTestSplit]] cannot prevent (doc-id
    * hashing puts two copies of one document in train AND test, leaking
    * eval content into training). Cluster key = min doc_id over the
    * normalized-content group (the same normalization as
    * `Dedup.normalized`, so split groups and dedup groups agree).
    *
    * Scale shape: ONE shuffle — the min-per-group runs as a window over
    * the norm_hash partitioning (map-side partial via AQE); membership
    * is then a pure projection of the canonical id. No join, no model
    * collect, no RNG. */
  def clusterSplit(docs: DataFrame, trainPct: Int = 80,
                   valPct: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"), col("lang"),
        Dedup.normHash(col("text")).as("norm_hash"))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("norm_hash"))))
      .withColumn("bucket", bucket100(col("canonical_id")))
      .select(col("doc_id"), col("lang"), col("canonical_id"),
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** Exact-size per-stratum sample: the first `n` rows of each stratum
    * in md5-hash order — a deterministic reservoir (uniform because the
    * hash is, stable across runs and engines because nothing is
    * seeded from a JVM RNG). The rank filter is the TopKPerKey logical
    * shape, so it plans as the sort-free two-phase heap top-k: ≤n rows per stratum per input partition
    * cross the shuffle, no sort buffers — at 100 TB the sample, not the
    * corpus, is what moves. */
  def topNPerStratum(docs: DataFrame, n: Int): DataFrame = {
    val h = md5Base60(col("doc_id").cast("string"))
    docs
      .withColumn("h", h)
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("h").asc, col("doc_id").asc)))
      .filter(col("rn") <= n)
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rank"))
  }

  /** Deterministic per-epoch shuffle order — the training-data-loader
    * contract: each epoch visits the corpus in a different but fully
    * reproducible order (md5-60 of "epoch:doc_id"), so a resumed or
    * re-run job replays the identical batch sequence with no RNG state
    * to checkpoint. Emits the first `topN` positions of each epoch's
    * order; the rank filter is the TopKPerKey shape (no global sort —
    * ≤topN rows per epoch per partition cross the shuffle).
    */
  def epochOrder(docs: DataFrame, epochs: Int = 2,
                 topN: Int = 50): DataFrame = {
    docs.select(col("doc_id"))
      .select(col("doc_id"), explode(array(
        (0 until epochs).map(e => lit(e.toLong)): _*)).as("epoch"))
      .withColumn("order_key", md5Base60(concat(col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string"))))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("epoch"))
          .orderBy(col("order_key").asc, col("doc_id").asc)))
      .filter(col("rn") <= topN)
      .select(col("epoch"), col("rn").cast("long").as("rank"),
        col("doc_id"), col("order_key"))
  }

  /** Curriculum ordering — the staged data-loader schedule: documents
    * sort into `stages` difficulty quintiles (proxy: n_chars, doc_id
    * tie-break) and train easy→hard, with a deterministic md5 shuffle
    * INSIDE each stage (curriculum fixes the macro order; intra-stage
    * order must still decorrelate batches). Emits every doc with its
    * stage and global curriculum position.
    *
    * Scale shape: both global orderings run through
    * [[Ranking.withGlobalRank]] — range-repartitioned local sorts plus
    * a parts-row offset broadcast, NO single-partition window — and the
    * stage split is [[Ranking.ntileOfRank]]'s closed-form ntile
    * arithmetic, bit-identical to `ntile().over(Window.orderBy(...))`
    * because both orderings are totally tie-broken. Fully
    * deterministic: no RNG state anywhere. */
  def curriculumOrder(s: SparkSession, docs: DataFrame,
                      stages: Int = 5): DataFrame = {
    val ranked = Ranking.withGlobalRank(
      docs.select(col("doc_id"), col("n_chars")), "rn", "n",
      Seq(col("n_chars").asc, col("doc_id").asc))
      .withColumn("stage", Ranking.ntileOfRank(col("rn"), col("n"), stages))
      .withColumn("shuffle_key",
        md5Base60(concat(lit("cur:"), col("doc_id").cast("string"))))
    Ranking.withGlobalRank(ranked, "position", "n2",
      Seq(col("stage").asc, col("shuffle_key").asc, col("doc_id").asc))
      .select(col("doc_id"), col("n_chars"), col("stage"),
        col("shuffle_key"), col("position"))
  }

  /** Per-document weighted sampling: keep document i with probability
    * w(i), where w is a data-derived quality proxy (here: length-capped
    * at 1.0 — longer docs are likelier kept, the usual quality-weighted
    * mixture step). The coin is the md5-derived uniform in [0,1) — a
    * pure function of doc_id, so the sample is a narrow stateless
    * filter (zero shuffles, zero RNG state), reproducible across
    * re-runs, backfills, and engines. E[kept] = Σw without any
    * pre-count pass.
    */
  def weightedSample(docs: DataFrame): DataFrame = {
    // 60 bits of md5 / 2^60: an exact binary fraction — bit-identical
    // in any engine that parses the same hex
    val u = md5Base60(col("doc_id").cast("string"))
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val w = least(lit(1.0), col("n_chars") / lit(400.0))
    docs.select(col("doc_id"), col("lang"),
        round(u, 6).as("u"), round(w, 6).as("weight"),
        (u < w).as("kept"))
  }

  /** Class-balanced downsampling: every stratum capped at the SMALLEST
    * stratum's size, members chosen in md5-hash order (the
    * deterministic reservoir of [[topNPerStratum]] with a data-derived
    * n). The cap comes from a whole-frame window over the per-stratum
    * count table (stratum-cardinality rows) broadcast back to the rank
    * filter — no driver round-trip, no second corpus scan. The output
    * is a perfectly balanced dataset, reproducible on any engine.
    */
  def balancedSample(s: SparkSession, docs: DataFrame): DataFrame = {
    val h = md5Base60(col("doc_id").cast("string"))
    val caps = docs.groupBy(col("lang")).count()
      .withColumn("cap", min(col("count")).over(Window.partitionBy()))
      .select(col("lang"), col("cap"))
    docs
      .withColumn("h", h)
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("h").asc, col("doc_id").asc)))
      .join(broadcast(caps), "lang")
      .filter(col("rn") <= col("cap"))
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rank"))
  }

  /** EXACT-k uniform sample without RNG state — the distributed
    * equivalent of reservoir sampling: keep the k documents with the
    * smallest md5-60 key hashes. Hash order is uniform and independent
    * of data order, so this is a uniform k-subset; it is also
    * reproducible across re-runs, engines, AND incremental growth (a
    * doc's hash never changes, so adding data only ever displaces
    * current members — no reshuffling of survivors). Plans as
    * TakeOrderedAndProject: per-partition k-heaps, only k rows per
    * partition reach the driver-side merge — no global sort at any
    * scale. The percentage samplers above can't promise an exact count
    * (binomial spread); eval sets and benchmarks often must have one. */
  def exactKSample(docs: DataFrame, k: Int = 100): DataFrame = {
    docs
      .select(col("doc_id"), col("lang"),
        md5Base60(col("doc_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Neyman allocation for a stratified sample — the survey-sampling
    * optimum the proportional split (samp1) ignores: budget n
    * allocated per stratum ∝ Nₛ·σₛ (big AND noisy strata get more),
    * which minimizes the estimator variance at fixed cost. Strata are
    * sources, the measured variable is n_chars; σ comes from exact
    * integer moment sums (population form, the KS/moments convention).
    *
    * Scale shape: one source-keyed moment aggregation; the allocation
    * normalizes over the ≤|strata| frame via a window. Determinism:
    * weights quantize to integer micros BEFORE the normalizing sum
    * (the tok8 convention), and the final allocation is one divide on
    * exact longs. */
  def neymanAllocation(s: SparkSession, dir: String,
                       budget: Int = 100): DataFrame = {
    val all = Window.partitionBy(lit(1))
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"),
        sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      // Nₛ·σₛ = Nₛ·√(NₛΣx²−(Σx)²)/Nₛ = √(NₛΣx²−(Σx)²) — the
      // population-σ normalizer cancels, so the weight is one sqrt of
      // an exact integer, rounded to integer char units
      .withColumn("w_chars",
        round(sqrt((col("n_s") * col("sxx") - col("sx") * col("sx"))
          .cast("double"))).cast("long"))
      .withColumn("alloc",
        round(lit(budget.toLong) * col("w_chars").cast("double") /
          sum(col("w_chars")).over(all).cast("double")).cast("long"))
      .select(col("source"), col("n_s"), col("w_chars"), col("alloc"))
  }

  /** `samp11_gumbel_topk` — the RESAMPLING half of DSIR (Xie et al.
    * 2023 select documents with probability ∝ exp(importance weight);
    * [[TextAnalysis.dsirWeights]] computes the weights, this draws the
    * sample): the Gumbel-top-k trick turns weighted sampling WITHOUT
    * replacement into a deterministic top-k — key_i = w_i + Gumbel_i,
    * take the k largest (Vieira 2014). The Gumbel noise is
    * derandomized the usual way: u_i = (md5_60("gum:" + doc_id) mod
    * 1e6 + ½) / 1e6 ∈ (0,1), g_i = −ln(−ln u_i) — a pure function of
    * the key, so the drawn sample is reproducible across engines,
    * re-runs and backfills (the failure `randomSplit`-style JVM
    * seeding has). w_i is the per-token mean importance in nats
    * (exact integer micro-nat total / tokens); both w and g round to
    * 6dp before the micro-quantized sum, the shared ln convention.
    *
    * Scale shape: everything after the weight computation is a narrow
    * map over doc-count rows plus one TakeOrderedAndProject — the
    * sampler adds zero shuffles to the weigher. */
  def gumbelTopK(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val u = (pmod(md5Base60(
        concat_ws("", lit("gum:"), col("doc_id"))), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    TextAnalysis.dsirWeights(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("lr_total_micro"))
      .withColumn("w6", round(col("lr_total_micro").cast("double") /
        (col("n_tokens") * lit(1000000L)).cast("double"), 6))
      .withColumn("g6", round(-log(-log(u)), 6))
      .select(col("doc_id"), col("n_tokens"), col("lr_total_micro"),
        round(lit(1e6) * (col("w6") + col("g6"))).cast("long")
          .as("key_micros"))
      .orderBy(col("key_micros").desc, col("doc_id").asc)
      .limit(k)
  }

  /** `samp12_horvitz_thompson` — probability-proportional-to-size
    * (PPS) Poisson sampling with the Horvitz–Thompson estimator
    * (1952), the design-based answer to "sample 5% of the corpus but
    * keep the totals unbiased": document i enters with inclusion
    * probability π_i ∝ n_chars (capped at 1), and the total-character
    * estimate Σ_{i∈S} size_i/π_i is unbiased BY CONSTRUCTION, however
    * skewed the sizes are — where uniform sampling's estimate would
    * need a variance correction, HT needs none. True total rides
    * along as the audit (the priv6/priv7 pattern).
    *
    * Determinism: π is quantized to micros (pm = ⌊1e6·π⌉), the coin
    * is md5-derandomized per doc against pm, and each HT term
    * size·1e6/pm is rounded before the integer sum — both engines
    * select the identical sample and sum identical longs.
    *
    * Scale shape: one broadcast 1-row stats frame, one narrow filter
    * (no shuffle at all until the final 1-row aggregation), map-side
    * combinable end to end. */
  def horvitzThompson(s: SparkSession, dir: String,
                      targetPermille: Int = 50): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"))
    val stats = broadcast(d.agg(count(lit(1)).as("n_pop"),
      sum(col("n_chars")).as("true_total")))
    d.crossJoin(stats)
      .withColumn("n_target",
        round(col("n_pop").cast("double") * targetPermille / 1000.0)
          .cast("long"))
      .withColumn("pm", least(lit(1000000L),
        round(lit(1e6) * col("n_target").cast("double") *
          col("n_chars").cast("double") /
          col("true_total").cast("double")).cast("long")))
      .filter(pmod(md5Base60(
        concat(lit("ht:"), col("doc_id"))), lit(1000000L)) < col("pm"))
      .select(col("n_pop"), col("true_total"),
        round(lit(1e6) * col("n_chars").cast("double") /
          col("pm").cast("double")).cast("long").as("term"))
      .groupBy(col("n_pop"), col("true_total"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("term")).as("ht_total"))
      .select(col("n_pop"), col("n_sampled"), col("true_total"),
        col("ht_total"),
        round(lit(1e6) *
          abs(col("ht_total") - col("true_total")).cast("double") /
          col("true_total").cast("double")).cast("long")
          .as("rel_err_micros"))
  }

  /** `samp13_priority` — priority sampling (Duffield, Lund & Thorup
    * 2007), the FIXED-SIZE unbiased subset-sum sibling of
    * [[horvitzThompson]]'s Poisson design (HT's sample size is
    * random; priority sampling pins it at exactly k with near-optimal
    * variance — within 1/(k−1) of the best possible k-sample
    * estimator, their main theorem): each doc draws an md5-
    * derandomized uniform u ∈ (0,1] (u = (h60+1)/2⁶⁰), gets priority
    * q = w/u, the top-k by q are the sample, and τ = the (k+1)-th
    * priority turns each sampled weight into the unbiased estimate
    * max(w, τ).
    *
    * Scale shape: the top-(k+1) selection is orderBy+limit —
    * TakeOrderedAndProject, per-partition heaps + one k-row driver
    * merge, never a global sort; everything after runs on ≤ k+1 rows.
    * Determinism: q is one IEEE multiply+divide on exactly-cast
    * integers (identical in both engines), ties broken by doc_id, and
    * per-doc estimates are micro-quantized BEFORE the integer total
    * (the house float-sum rule). Assumes n_pop > k (holds at every
    * tested SF); when n_pop ≤ k the (k+1)-th priority row does not
    * exist, the broadcast τ side is empty, and the query returns ZERO
    * rows — the oracle SQL has the identical join shape, so parity
    * holds, but callers wanting the degenerate exact-total answer on
    * sub-k corpora must special-case it upstream. */
  def prioritySample(s: SparkSession, dir: String,
                     k: Int = 64): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").as("w"))
    val stats = broadcast(d.agg(count(lit(1)).as("n_pop"),
      sum(col("w")).as("true_total")))
    val top = d
      .select(col("doc_id"), col("w"),
        (col("w").cast("double") * lit(1152921504606846976L) /
          (md5Base60(
            concat(lit("ps:"), col("doc_id"))) + 1L).cast("double"))
          .as("q"))
      .orderBy(col("q").desc, col("doc_id")).limit(k + 1)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("q").desc, col("doc_id"))))
    val tau = broadcast(top.filter(col("rn") === k + 1)
      .select(col("q").as("tau")))
    top.filter(col("rn") <= k)
      .crossJoin(tau)
      .select(
        round(lit(1e6) * greatest(col("w").cast("double"), col("tau")))
          .cast("long").as("est_micros"),
        round(lit(1e6) * col("tau")).cast("long").as("tau_micros"))
      .groupBy(col("tau_micros"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("est_micros")).as("est_total_micros"))
      .crossJoin(stats)
      .select(col("n_pop"), col("true_total"), col("n_sampled"),
        col("tau_micros"), col("est_total_micros"),
        round(lit(1e6) *
          abs(col("est_total_micros").cast("double") / lit(1e6) -
            col("true_total").cast("double")) /
          col("true_total").cast("double")).cast("long")
          .as("rel_err_micros"))
  }

  /** `samp14_kcenter` — greedy k-center (Gonzalez 1985) coreset
    * selection over the embedding corpus: start from the min-vec_id
    * point, then k−1 rounds of "add the point farthest from the
    * chosen set" — the 2-approximation to the optimal k-cover, and
    * the diversity-first dual of [[gumbelTopK]]'s importance-first
    * draw (DSIR picks what matters; k-center picks what SPANS).
    * Each round also reports the pick's distance — the coverage
    * radius curve a curation budget is set from.
    *
    * Determinism: vectors are micro-quantized longs, so every
    * distance is an EXACT integer (per-dim diff ≤ 4·10⁶, squared
    * ×64 dims ≤ 10¹⁵) — the argmax (ties → vec_id asc) is
    * engine-independent by construction. The DuckDB oracle replays
    * all k rounds as chained CTEs on the identical integers.
    *
    * Scale shape: k driver rounds, each ONE narrow argmax pass
    * ending in TakeOrderedAndProject(1) against a ≤k-row literal
    * center model (the kmeansLloyd/kmeanspp collect discipline —
    * model-sized collects only); distances fold inside the row
    * pipeline via zip_with + aggregate, zero UDFs, zero joins. */
  def kcenterGreedy(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          x => round(x * 1e6).cast("long")).as("v"))
    e.cache()
    try {
      def d2(c: Seq[Long]): Column =
        aggregate(zip_with(col("v"), ModelLit.vecL(c),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
      val first = e.orderBy(col("vec_id").asc).limit(1).collect().head
      var model = Vector((first.getLong(0), 0L,
        first.getAs[collection.Seq[Long]]("v").toSeq))
      for (_ <- 1 until k) {
        val ds = model.map { case (_, _, c) => d2(c) }
        val dmin = if (ds.size == 1) ds.head else least(ds: _*)
        val r = e.select(col("vec_id"), col("v"), dmin.as("dm"))
          .orderBy(col("dm").desc, col("vec_id").asc).limit(1)
          .collect().head
        model = model :+ ((r.getLong(0), r.getLong(2),
          r.getAs[collection.Seq[Long]]("v").toSeq))
      }
      model.zipWithIndex
        .map { case ((id, rad, _), i) => (i.toLong, id, rad) }
        .toDF("round", "center_vec_id", "radius_d2")
    } finally e.unpersist(blocking = true)
  }
}
