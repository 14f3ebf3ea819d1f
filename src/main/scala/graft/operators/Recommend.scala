package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Co-occurrence mining over order baskets — the counting kernel under
  * association rules, item-item collaborative filtering and
  * "frequently bought together": which part pairs appear in the same
  * order more often than chance. The reference has no joins at all
  * (SURVEY §2f); this is the charter's training-data extension of the
  * basket-shaped data the TPC-H tables already carry.
  */
object Recommend {

  /** `rec1_item_cooccur` — item-item co-occurrence with lift and
    * cosine association scores: distinct (order, part) pairs self-join
    * on the order key (a < b so each unordered pair counts once),
    * support-pruned at `minSupport` co-occurrences, ranked by
    * (count desc, pair asc) and cut to `topK`.
    *
    * Scale shape: the self-join is an equi-join on l_orderkey — the
    * key both tables would be bucketed by at 100 TB, so co-located and
    * shuffle-free there; pair explosion is bounded by basket size
    * squared (TPC-H baskets are ≤ ~13 lines, so ≤ ~80 pairs/basket —
    * linear in orders, never corpus-quadratic). Pair counting
    * partial-aggregates map-side on (a, b); the per-item support table
    * is item-cardinality-sized and BROADCAST to the aggregated pairs;
    * the final cut is TakeOrderedAndProject, never a global sort.
    * Scores are integer micros from single IEEE ops on exact integer
    * counts, so the DuckDB oracle reproduces them bit-for-bit:
    * lift = n_ab·N / (n_a·n_b), cosine = n_ab / √(n_a·n_b). */
  /** Staged basket statistics shared by [[itemCooccur]],
    * [[assocRules]] and [[cooccurIndexed]]'s postings build (r14): the
    * supported pair counts (the basket self-join, the expensive part),
    * per-item support, and the order count — pure functions of
    * (lineitem, minSupport), built once per corpus fingerprint. */
  private def basketStats(s: SparkSession, dir: String,
                          minSupport: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = Staging.base("cooc_pairs_v1", dir, s"ms$minSupport",
      "lineitem")
    Staging.buildOnce(base) { Staging.scratch(s) {
      // items feeds three aggregations — checkpoint once
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"),
          col("l_partkey").as("item"))
        .distinct().localCheckpoint(true)
      items.agg(countDistinct(col("okey")).as("n_orders"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/n")
      items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$base/support")
      items.as("a")
        .join(items.as("b"), col("a.okey") === col("b.okey"))
        .filter(col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("item_a"),
          col("b.item").as("item_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= minSupport)
        .write.mode("overwrite").parquet(s"$base/pairs")
    } }
    (s.read.parquet(s"$base/pairs"),
      s.read.parquet(s"$base/support"), s.read.parquet(s"$base/n"))
  }

  def itemCooccur(s: SparkSession, dir: String, minSupport: Int = 2,
                  topK: Int = 100): DataFrame = {
    val (pairs, support, nOrders) = basketStats(s, dir, minSupport)
    pairs
      .join(broadcast(support.select(col("item").as("item_a"),
        col("n_item").as("n_a"))), "item_a")
      .join(broadcast(support.select(col("item").as("item_b"),
        col("n_item").as("n_b"))), "item_b")
      .crossJoin(broadcast(nOrders))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(lit(1e6) * (col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).cast("long")
          .as("lift_micros"),
        round(lit(1e6) * col("n_ab").cast("double") /
          sqrt((col("n_a") * col("n_b")).cast("double"))).cast("long")
          .as("cosine_micros"))
      .orderBy(col("n_ab").desc, col("item_a").asc, col("item_b").asc)
      .limit(topK)
  }

  /** `rec2_assoc_rules` — association rules from the same basket
    * counts: both directions of every supported pair become candidate
    * rules antecedent → consequent, scored by
    * confidence = n_ab / n_ant (integer micros) and kept when
    * confidence ≥ `minConfMicros`; ranked by (confidence desc, pair
    * asc), cut to `topK`. Confidence is the deployment signal ("of
    * orders containing A, this share also had B"); lift rides along so
    * high-confidence-only-because-B-is-everywhere rules are visible.
    *
    * Scale shape: identical to [[itemCooccur]] up to the pair counts
    * (one bounded self-join + partial agg); the direction flip is a
    * narrow 2× union of the AGGREGATED pair table (pair-cardinality
    * sized, never basket rows), supports broadcast on, final cut
    * TakeOrderedAndProject. */
  def assocRules(s: SparkSession, dir: String, minSupport: Int = 2,
                 minConfMicros: Long = 100000L, topK: Int = 100)
  : DataFrame = {
    val (pairs, support, nOrders) = basketStats(s, dir, minSupport)
    val rules = pairs
      .select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("n_ab"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("n_ab")))
    rules
      .join(broadcast(support.select(col("item").as("antecedent"),
        col("n_item").as("n_ant"))), "antecedent")
      .join(broadcast(support.select(col("item").as("consequent"),
        col("n_item").as("n_cons"))), "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_ant"), col("n_cons"),
        round(lit(1e6) * col("n_ab").cast("double") /
          col("n_ant").cast("double")).cast("long").as("conf_micros"),
        round(lit(1e6) * (col("n_ab") * col("n_orders")).cast("double") /
          (col("n_ant") * col("n_cons")).cast("double")).cast("long")
          .as("lift_micros"))
      .filter(col("conf_micros") >= minConfMicros)
      .orderBy(col("conf_micros").desc, col("antecedent").asc,
        col("consequent").asc)
      .limit(topK)
  }

  /** (custkey, l_partkey, r, q1, q2): summed quantities with the
    * md5-derandomized milli-unit item factors attached — the shared
    * input of [[alsUserStep]] and [[alsFitEval]]. */
  /** `rec5_slope_one` — weighted Slope One prediction (Lemire &
    * Maclachlan 2005), the deviation-based collaborative filter that
    * sits between rec1's co-occurrence counting and rec3's latent
    * factors: learn, per item pair (j, i), the average rating
    * deviation dev_ji = Σ_u (r_uj − r_ui)/c_ji over co-raters, then
    * predict r̂_uj = Σ_i (dev_ji + r_ui)·c_ji / Σ_i c_ji over the
    * items u already rated. Ratings are per-(customer, part) mean
    * order quantities in centi-units, items bounded to the
    * partkey ≡ 0 (mod 10) slice so the pair frame stays
    * items/user-quadratic, not catalog-quadratic.
    *
    * THE determinism device: the weighted prediction numerator
    * Σ (dev_ji + r_ui)·c_ji algebraically equals Σ (sumdiff_ji +
    * r_ui·c_ji) — so the deviation matrix is stored as the EXACT
    * integer pair (sumdiff, c) and never divided until the one final
    * quantized divide per prediction. No FP accumulates anywhere.
    *
    * Scale shape: ratings = one (cust, part) rollup; the deviation
    * matrix = one cust-keyed self-join bounded by items-per-user²;
    * predictions join the head users' ratings against the pair frame
    * on the rated item (hash join on item), one (user, candidate)
    * aggregation, top-5 per user via a user-partitioned rank window.
    * minSupport ≥ 2 denoises single-co-rater deviations. */
  def slopeOne(s: SparkSession, dir: String, minSupport: Int = 2,
               headMod: Int = 97, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ratings = Tables.lineitem(s, dir)
      .filter(col("l_partkey") % 10 === 0)
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey").as("cust")), "l_orderkey")
      .groupBy(col("cust"), col("l_partkey").as("item"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"),
        count(lit(1)).as("cq"))
      .select(col("cust"), col("item"),
        round(lit(100) * col("sq").cast("double") /
          col("cq").cast("double")).cast("long").as("rc"))
      .localCheckpoint(true) // feeds pairs AND both prediction joins
    val dev = ratings.as("a")
      .join(ratings.as("b"), col("a.cust") === col("b.cust"))
      .filter(col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("j"), col("b.item").as("i"))
      .agg(sum(col("a.rc") - col("b.rc")).as("sumdiff"),
        count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)
    val headRatings = ratings.filter(col("cust") % headMod === 0)
    val preds = headRatings
      .join(dev, col("i") === col("item"))
      .select(col("cust"), col("j"),
        (col("sumdiff") + col("rc") * col("c")).as("term"), col("c"))
      .groupBy(col("cust"), col("j"))
      .agg(sum(col("term")).as("num"), sum(col("c")).as("den"))
      // never "predict" an item the user already rated
      .join(ratings.select(col("cust"), col("item").as("j")),
        Seq("cust", "j"), "left_anti")
      .select(col("cust"), col("j"),
        round(col("num").cast("double") / col("den").cast("double"))
          .cast("long").as("pred_centi"),
        col("den").as("n_support"))
    val byUser = Window.partitionBy(col("cust"))
      .orderBy(col("pred_centi").desc, col("j").asc)
    preds.withColumn("rk", row_number().over(byUser))
      .filter(col("rk") <= topK)
      .select(col("cust").as("custkey"), col("j").as("partkey"),
        col("pred_centi"), col("n_support"))
  }

  private def alsRatings(s: SparkSession, dir: String): DataFrame = {
    def qInit(comp: String): Column =
      (pmod(md5Base60(
        concat_ws("", lit(s"alsq$comp:"), col("l_partkey"))),
        lit(2001L)) - lit(1000L))
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("custkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).cast("long").as("r"))
      .withColumn("q1", qInit("1"))
      .withColumn("q2", qInit("2"))
  }

  /** `rec3_als_step` — one exact half-step of alternating least
    * squares matrix factorization (Koren/Hu-Koren-Volinsky; the
    * explicit-feedback normal-equations form), the collaborative-
    * filtering layer above [[itemCooccur]]'s counting kernel: with
    * item factors held FIXED, each user's k=2 latent vector has a
    * CLOSED FORM — p_u = (Σ_i q_i·q_iᵀ + λI)⁻¹ · Σ_i r_ui·q_i — so the
    * whole user-side update is one grouped aggregation plus a 2×2
    * matrix inverse done in plain column arithmetic. This is exactly
    * how distributed ALS iterates at scale (each half-step is a
    * shuffle-by-user then shuffle-by-item aggregation; no gradient
    * loop, no driver state beyond λ), demonstrated here as one
    * verifiable step.
    *
    * Ratings are Σ quantity per (customer, part) from lineitem ⋈
    * orders — the orderkey equi-join both tables are bucketed by at
    * 100 TB. Item factors are the derandomized init every graft
    * iterative model uses: q_c = (md5_60("alsq<c>:" + partkey) mod
    * 2001 − 1000) milli-units ∈ [−1, 1], a pure function of the item
    * key, so step 1 is reproducible across engines and restarts.
    *
    * Determinism: all five per-user sums (S11=Σq1², S12=Σq1q2,
    * S22=Σq2², T1=Σr·q1, T2=Σr·q2) are EXACT integer sums in milli-
    * unit space (partition-order-independent); the inverse runs as
    * single IEEE ops on those exact longs and rounds to micros. λ
    * enters as λ·n_items·I — the confidence-weighted regularization of
    * the published implicit-ALS variant, kept integral (λ=0.1 → 100
    * milli² per rating). det > 0 always: A is positive-definite for
    * λ > 0. */
  def alsUserStep(s: SparkSession, dir: String): DataFrame = {
    val ratings = alsRatings(s, dir)
    val sums = ratings.groupBy(col("custkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("q1") * col("q1")).as("s11"),
        sum(col("q1") * col("q2")).as("s12"),
        sum(col("q2") * col("q2")).as("s22"),
        sum(col("r") * col("q1")).as("t1"),
        sum(col("r") * col("q2")).as("t2"))
    // real units: A11 = s11/1e6 + λ·n, A12 = s12/1e6, b = t/1e3 —
    // doubles built from the exact longs with one IEEE expression per
    // output, the repo convention (both engines evaluate identically).
    val a11 = (col("s11").cast("double") / 1e6) +
      lit(0.1) * col("n_items").cast("double")
    val a12 = col("s12").cast("double") / 1e6
    val a22 = (col("s22").cast("double") / 1e6) +
      lit(0.1) * col("n_items").cast("double")
    val b1 = col("t1").cast("double") / 1e3
    val b2 = col("t2").cast("double") / 1e3
    val det = a11 * a22 - a12 * a12
    sums.select(col("custkey"), col("n_items"),
        round(lit(1e6) * (a22 * b1 - a12 * b2) / det).cast("long")
          .as("p1_micros"),
        round(lit(1e6) * (a11 * b2 - a12 * b1) / det).cast("long")
          .as("p2_micros"))
  }

  /** `eval10_als_fit` — the fit readout for [[alsUserStep]]: training
    * SSE of the rating model before the step (all-zero user vectors →
    * prediction 0 → SSE₀ = Σr²) versus after it (p̂·q predictions),
    * plus the relative improvement. One half-step against a FIXED
    * random item side must already explain a large share of the
    * variance — if it doesn't, the normal-equation solve is wrong;
    * this is the assertion that makes rec3 a learning step rather
    * than arithmetic.
    *
    * Scale shape: the factor frame is user-keyed and joins back to
    * ratings on custkey (the same hash partitioning the sums pass
    * used — co-located); predictions are per-row integer products
    * (micros × milli-units = nano-units, exact longs), the squared
    * error is one IEEE expression per row quantized to micros before
    * the integer-style sum (DECIMAL(38,0) accumulator, so a 100 TB
    * row count cannot overflow the error mass). */
  def alsFitEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ratings = alsRatings(s, dir)
    val err = col("r").cast("double") -
      (col("p1_micros") * col("q1") + col("p2_micros") * col("q2"))
        .cast("double") / 1e9
    ratings.join(alsUserStep(s, dir).select(col("custkey"),
        col("p1_micros"), col("p2_micros")), "custkey")
      .select(col("r"),
        (col("r") * col("r") * 1000000L).as("e0_micros"),
        round(lit(1e6) * err * err).cast("long").as("e1_micros"))
      .agg(count(lit(1)).as("n_ratings"),
        sum(col("e0_micros").cast(DecimalType(38, 0))).as("sse0"),
        sum(col("e1_micros").cast(DecimalType(38, 0))).as("sse1"))
      .select(col("n_ratings"),
        col("sse0").cast("long").as("sse0_micros"),
        col("sse1").cast("long").as("sse1_micros"),
        round(lit(1e6) * (lit(1.0) -
          col("sse1").cast("double") / col("sse0").cast("double")))
          .cast("long").as("improvement_micros"))
  }

  /** Bucket count of the persisted co-occurrence index. */
  val CoocBuckets = 16

  /** The index's postings are read with their schema: a `minSupport`
    * that no pair reaches writes no file to infer it from. */
  private def coocPostings(s: SparkSession, base: String): DataFrame =
    s.read.schema("item BIGINT, nbr BIGINT, n_ab BIGINT, " +
      "lift_micros BIGINT, bucket INT").parquet(s"$base/postings")

  /** `rec4_cooccur_indexed` — the SERVING face of [[itemCooccur]],
    * the same staged-index treatment its BM25/IVF siblings got
    * (TextAnalysis.bm25Indexed, Similarity.annIvfIndexed): the
    * symmetrized neighbor postings (item → nbr, n_ab, lift) are built
    * ONCE per corpus fingerprint and written partitioned by
    * bucket = item % 16; a "customers also bought" lookup for a batch
    * of items then reads ONLY those items' bucket directories via a
    * static partition filter — per query, O(query buckets) of the
    * index, zero corpus scans, zero joins. Top-k per item re-ranks
    * inside the pruned read (n_ab desc, nbr asc — pinned).
    *
    * The demo query batch is the HEAD-ITEMS list every co-occurrence
    * serving deployment keeps beside the postings: the build stage
    * also writes the top-64 items by postings mass (one 64-row file),
    * and the query collects its first `nQuery` rows — a model-sized
    * read that stays O(1) as the corpus grows and is non-empty at
    * every SF (a fixed literal id list goes stale as the id space
    * scales; mass-ranked heads do not).
    *
    * The driver oracle recomputes the whole pair table AND the head
    * selection from scratch in DuckDB, so hash equality is a standing
    * losslessness proof of the index roundtrip (the inc1 convention). */
  def cooccurIndexed(s: SparkSession, dir: String, nQuery: Int = 5,
                     k: Int = 5, minSupport: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Staging.base("cooc_index_v2", dir, s"ms$minSupport", "lineitem")
    Staging.buildOnce(base) {
      val (pairs, support, nOrders) = basketStats(s, dir, minSupport)
      val sym = pairs
        .select(col("item_a").as("item"), col("item_b").as("nbr"),
          col("n_ab"))
        .unionByName(pairs.select(col("item_b").as("item"),
          col("item_a").as("nbr"), col("n_ab")))
      val posts = sym
        .join(broadcast(support.select(col("item"),
          col("n_item").as("n_i"))), "item")
        .join(broadcast(support.select(col("item").as("nbr"),
          col("n_item").as("n_n"))), "nbr")
        .crossJoin(broadcast(nOrders))
        .select(col("item"), col("nbr"), col("n_ab"),
          round(lit(1e6) * (col("n_ab") * col("n_orders")).cast("double") /
            (col("n_i") * col("n_n")).cast("double")).cast("long")
            .as("lift_micros"),
          pmod(col("item"), lit(CoocBuckets.toLong)).as("bucket"))
      posts.write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$base/postings")
      // head-items sidecar: top-64 items by postings mass
      coocPostings(s, base)
        .groupBy(col("item")).agg(sum(col("n_ab")).as("mass"))
        .orderBy(col("mass").desc, col("item").asc).limit(64)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/topitems")
      ()
    }
    // query batch = first nQuery head items (64-row file, model-sized
    // collect); their buckets become STATIC partition-pruning literals
    val items = s.read.parquet(s"$base/topitems")
      .orderBy(col("mass").desc, col("item").asc).limit(nQuery)
      .collect().map(_.getLong(0)).toSeq
    val wantBuckets = items.map(_ % CoocBuckets).distinct
    val w = Window.partitionBy(col("item"))
      .orderBy(col("n_ab").desc, col("nbr").asc)
    coocPostings(s, base)
      .filter(col("bucket").isin(wantBuckets: _*) &&
        col("item").isin(items: _*))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("item"), col("rnk"), col("nbr"), col("n_ab"),
        col("lift_micros"))
  }

  /** `rec6_lift3` — three-way basket synergy at the BRAND level: for
    * every ordered brand triple b₁<b₂<b₃, lift₃ = P(abc)/(P(a)P(b)P(c))
    * = n_abc·N²/(n_a·n_b·n_c), top-20 by lift. The third-order signal
    * [[itemCooccur]]'s pairwise lift provably cannot see (a triple can
    * be super-additive while every pair looks independent) — and the
    * brand rollup is what makes the triple space BOUNDED (≤ C(25,3)
    * combinations) so the face stays populated and sub-quadratic at
    * every SF, where part-level triples are all support-1 even at
    * sf0.1.
    *
    * Determinism: lift is an exact integer floor division in micros —
    * the numerator n_abc·N²·10⁶ passes 2⁶³ so it rides DECIMAL(38,0)
    * (HUGEINT in the oracle); ranked (lift desc, triple asc).
    *
    * Scale shape: ONE data-sized shuffle (the per-order basket
    * rollup; collect_set dedups in the agg) followed by a narrow
    * C(b,3) combination explode — basket-bounded, never corpus-
    * squared; supports broadcast; the cut is TakeOrderedAndProject.
    * (The first cut enumerated triples as two okey self-joins — three
    * data-sized shuffles and the round-10 soak's 2.7× constant; the
    * basket-explode form halved the sf1 time bit-identically.) */
  def rec6Lift3(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    // triple enumeration was two okey self-joins over a pre-distincted
    // pair frame — FIVE corpus scans and three data-sized shuffles
    // across the branches, the round-10 soak's 2.7x constant. Now the
    // corpus is scanned ONCE into a per-order brand-set rollup
    // (collect_set dedups in the agg) that is cached and feeds all
    // three consumers: triples via a narrow C(b,3) combination explode
    // (basket-bounded, never corpus-squared), supports and the order
    // count as order-cardinality re-aggregations. The top-K result
    // detaches via materializedLocal so the cache unpersists before
    // return (the mst/cc snapshot convention).
    // The basket rollup is the face's only data-sized work and a pure
    // function of (lineitem, part) — staged once per corpus
    // fingerprint (the kn_model/bm25-postings convention; params fold
    // the PART table's fingerprint in since base() fingerprints one
    // source). All three consumers read the columnar rollup; repeat
    // calls skip the lineitem aggregation entirely. This replaces the
    // per-call persist()/unpersist() dance — whose CacheManager entry
    // either leaked (r11) or, correctly removed, made every call
    // re-aggregate — with the idiom production would use anyway.
    val base = Staging.base("lift3_baskets_v1", dir,
      "p" + Staging.fingerprint(dir, "part"), "lineitem")
    Staging.buildOnce(base) {
      lift3Baskets(s, dir).coalesce(4)
        .write.mode("overwrite").parquet(s"$base/baskets")
    }
    Staging.materializedLocal(
      lift3Tail(s.read.parquet(s"$base/baskets"), topK), topK)
  }

  /** The per-order sorted brand-set rollup rec6 fans out from. */
  private def lift3Baskets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("br"))
      .groupBy(col("okey"))
      .agg(sort_array(collect_set(col("br"))).as("brs"))

  /** The lift3 computation over a baskets frame — shared by the
    * production face (cached baskets) and [[lift3PlanFace]] (uncached,
    * so PlanSpec can assert the physical shape the detached local
    * result hides). */
  private def lift3Tail(baskets: DataFrame, topK: Int): DataFrame = {
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val support = baskets
      .select(explode(col("brs")).as("br"))
      .groupBy(col("br")).agg(count(lit(1)).as("n_br"))
    // native streaming combination generator (combo3_gen): the nested
    // transform³+flatten² HOF form ran three interpreted lambda layers
    // and materialized the full C(b,3) struct array per basket before
    // exploding it; the Generator streams identical (b1, b2, b3) rows
    // (i<j<k over the sorted set, <3 brands emits nothing)
    val triples = baskets
      .select(combo3Gen(col("brs"))
        .as(Seq("b1", "b2", "b3")))
      .groupBy(col("b1"), col("b2"), col("b3"))
      .agg(count(lit(1)).as("n_abc"))
    triples
      .join(broadcast(support.select(col("br").as("b1"),
        col("n_br").as("n1"))), "b1")
      .join(broadcast(support.select(col("br").as("b2"),
        col("n_br").as("n2"))), "b2")
      .join(broadcast(support.select(col("br").as("b3"),
        col("n_br").as("n3"))), "b3")
      .crossJoin(broadcast(nOrders))
      .select(col("b1"), col("b2"), col("b3"), col("n_abc"),
        expr("""(CAST(n_abc AS DECIMAL(38,0)) * n_orders * n_orders
            * 1000000) DIV
          (CAST(n1 AS DECIMAL(38,0)) * n2 * n3)""")
          .as("lift3_micros"))
      .orderBy(col("lift3_micros").desc, col("b1").asc, col("b2").asc,
        col("b3").asc)
      .limit(topK)
  }

  /** The UNCACHED lazy lift3 plan, for plan-shape assertions only —
    * same construction code as the production face. */
  private[graft] def lift3PlanFace(s: SparkSession, dir: String,
                                   topK: Int = 20): DataFrame =
    lift3Tail(lift3Baskets(s, dir), topK)

}
