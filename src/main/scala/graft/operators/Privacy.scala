package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Privacy-governance audits over the events table — the release
  * gate a training-data pipeline runs before user-derived data leaves
  * the boundary. The subject table is the per-user PROFILE (one row
  * per user_id), its quasi-identifiers the attributes a re-identifier
  * could link on: the user's first-activity date and modal event type.
  * Sweeney's k-anonymity asks how small the smallest identical-QI
  * crowd is; Machanavajjhala's l-diversity asks whether a crowd is
  * homogeneous in the SENSITIVE attribute (here: spend tier) so
  * membership alone leaks it; the generalization ladder quantifies the
  * standard remediation (coarsen dates day → week → month) as a
  * k-vs-utility curve.
  *
  * Scale shape: one user-keyed profile build (two map-side-combinable
  * aggregations + a user-partitioned modal window — never global),
  * then QI-keyed class rollups a couple of orders smaller; every
  * report is a handful of rows. At 100 TB of events this is two
  * user-hash shuffles and one tiny class shuffle — the same plan
  * family as ev17_rfm.
  *
  * Determinism: modal ties break alphabetically, risk shares are
  * integer micros, spend tiers are integer floors of a 2dp-rounded
  * sum — both engines land on identical longs.
  */
object Privacy {

  /** The k in k-anonymity reports: classes smaller than this are "at
    * risk" (the conventional release bar). */
  val K = 5

  /** Per-user profile: first-activity date + modal event type (tie →
    * alphabetical), plus the sensitive spend tier — floor(log10 of
    * 1 + total 2dp-rounded spend-cents) bucketing total `value` into
    * order-of-magnitude tiers. */
  private[operators] def profiles(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    // spend-cents clamp at 0: a refund-heavy user must land in tier 0,
    // not diverge (Spark log10 of a negative is NULL, DuckDB throws)
    val firstSpend = e.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("first_day"),
        floor(log10(lit(1.0) +
          greatest(sum(round(col("value") * 100).cast("long")), lit(0L))
            .cast("double")))
          .cast("long").as("spend_tier"))
    val modal = e.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("cnt").desc, col("event_type").asc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("top_type"))
    firstSpend.join(modal, "user_id")
  }

  /** `priv1_k_anonymity` — the one-row release report: users, QI
    * classes, the smallest class (the dataset's k), classes below
    * [[K]] and the user share inside them. */
  def kAnonymity(s: SparkSession, dir: String): DataFrame = {
    val classes = profiles(s, dir)
      .groupBy(col("first_day"), col("top_type"))
      .agg(count(lit(1)).as("sz"))
    classes.agg(
      sum(col("sz")).as("n_users"),
      count(lit(1)).as("n_classes"),
      min(col("sz")).as("k_min"),
      sum(when(col("sz") < K, 1L).otherwise(0L)).as("n_classes_at_risk"),
      sum(when(col("sz") < K, col("sz")).otherwise(0L))
        .as("n_users_at_risk"))
      .select(col("n_users"), col("n_classes"), col("k_min"),
        col("n_classes_at_risk"), col("n_users_at_risk"),
        round(lit(1e6) * col("n_users_at_risk").cast("double") /
          col("n_users").cast("double")).cast("long").as("risk_micros"))
  }

  /** `priv2_l_diversity` — homogeneity audit of the sensitive spend
    * tier within each QI class: the dataset's l (min distinct tiers
    * per class), homogeneous classes (l = 1 — membership alone
    * discloses the tier) and the users inside them. */
  def lDiversity(s: SparkSession, dir: String): DataFrame = {
    val perClass = profiles(s, dir)
      .groupBy(col("first_day"), col("top_type"))
      .agg(count(lit(1)).as("sz"),
        count_distinct(col("spend_tier")).as("l"))
    perClass.agg(
      count(lit(1)).as("n_classes"),
      min(col("l")).as("l_min"),
      sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_homogeneous"),
      sum(when(col("l") === 1, col("sz")).otherwise(0L))
        .as("n_users_exposed"),
      sum(col("sz")).as("n_users"))
      .select(col("n_classes"), col("l_min"), col("n_homogeneous"),
        col("n_users_exposed"),
        round(lit(1e6) * col("n_users_exposed").cast("double") /
          col("n_users").cast("double")).cast("long")
          .as("exposure_micros"))
  }

  /** `priv3_generalization` — the remediation curve: k-anonymity
    * re-measured with the date QI generalized day → week → month (one
    * profile build, the three levels exploded from it — never three
    * event scans). Utility loss is the class-count collapse; the row
    * where n_users_at_risk reaches 0 is the release-able level. */
  def generalizationLadder(s: SparkSession, dir: String): DataFrame = {
    val p = profiles(s, dir)
    val leveled = p.select(col("user_id"), col("top_type"),
      explode(array(
        struct(lit("1_day").as("level"), col("first_day").as("qi_date")),
        struct(lit("2_week").as("level"),
          to_date(date_trunc("week", col("first_day"))).as("qi_date")),
        struct(lit("3_month").as("level"),
          trunc(col("first_day"), "month").as("qi_date")))).as("g"))
      .select(col("user_id"), col("top_type"),
        col("g.level").as("level"), col("g.qi_date").as("qi_date"))
    leveled.groupBy(col("level"), col("qi_date"), col("top_type"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_classes"),
        min(col("sz")).as("k_min"),
        sum(when(col("sz") < K, col("sz")).otherwise(0L))
          .as("n_users_at_risk"))
      .orderBy(col("level").asc)
  }

  /** `priv4_dp_counts` — the Laplace mechanism over per-type user
    * counts: the differential-privacy release face beside the
    * k-anonymity/l-diversity audits. Each category releases
    * n_users + Laplace(1/ε) noise; counting DISTINCT users caps any
    * one user's contribution at 1 per category (sensitivity 1), and
    * the ε ledger rides along per row so a release pipeline can do
    * composition accounting across queries. The noise is derandomized
    * the repo way — u from md5("dp:" + category), Laplace via the
    * inverse CDF −b·sgn(u−½)·ln(1−2|u−½|) — a SEEDED release: same
    * data, same noise, reproducible audits (the common reproducible-
    * release deployment; fresh entropy per release is a config choice,
    * not a plan change).
    *
    * Scale shape: one distinct-aggregation keyed (category, user) —
    * partial-agg friendly — then a category-sized narrow projection.
    * Noise math is single IEEE ops rounded at 6dp, bit-equal in the
    * oracle. */
  /** `priv5_t_closeness` — the third classical release audit beside
    * k-anonymity and l-diversity (Li, Li & Venkatasubramanian 2007):
    * l-diversity only counts DISTINCT sensitive values per QI class;
    * t-closeness asks how far each class's sensitive DISTRIBUTION
    * drifts from the global one. For an ORDERED sensitive attribute
    * (the spend tier), the published distance is the Earth Mover's
    * Distance under unit ground distance — which collapses to
    * (1/(m−1))·Σᵢ |P̂ᵢ − Q̂ᵢ| over the m−1 cumulative-distribution
    * prefixes. One row: the dataset's t (max class EMD), classes/users
    * beyond the release threshold.
    *
    * Scale shape: the same profile build as priv1-3 (two user-keyed
    * aggregations), then class×tier rollups; the tier grid is an
    * m-row BROADCAST crossed onto the class frame (m = distinct tiers
    * ≈ spend orders of magnitude, ≤ ~10 by construction), cumulatives
    * are per-class windows (never global), and the report is one row.
    *
    * Determinism: each prefix gap |P̂−Q̂| is 6dp-rounded to micros
    * before the per-class INTEGER sum (partition-order-independent);
    * the 1/(m−1) normalization is one integer-rounded divide. */
  def tCloseness(s: SparkSession, dir: String,
                 tMicros: Long = 200000L): DataFrame = {
    val p = profiles(s, dir)
    val classCnt = p.groupBy(col("first_day"), col("top_type"),
        col("spend_tier"))
      .agg(count(lit(1)).as("cnt"))
    val classSz = classCnt.groupBy(col("first_day"), col("top_type"))
      .agg(sum(col("cnt")).as("sz"))
    val wTier = Window.partitionBy(lit(1)).orderBy(col("spend_tier").asc)
    val global = p.groupBy(col("spend_tier"))
      .agg(count(lit(1)).as("gcnt"))
      .withColumn("gcum", sum(col("gcnt")).over(wTier))
      .withColumn("n", sum(col("gcnt")).over(Window.partitionBy(lit(1))))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(lit(1))))
    val wClass = Window.partitionBy(col("first_day"), col("top_type"))
      .orderBy(col("spend_tier").asc)
    val emd = classSz.crossJoin(broadcast(global))
      .join(classCnt, Seq("first_day", "top_type", "spend_tier"), "left")
      .withColumn("ccum",
        sum(coalesce(col("cnt"), lit(0L))).over(wClass))
      .select(col("first_day"), col("top_type"), col("sz"), col("m"),
        round(abs(col("ccum").cast("double") / col("sz").cast("double") -
          col("gcum").cast("double") / col("n").cast("double")), 6)
          .as("gap"))
      .groupBy(col("first_day"), col("top_type"), col("sz"), col("m"))
      .agg(sum(round(col("gap") * 1e6, 0).cast("long")).as("gap_sum"))
      .select(col("sz"), col("m"),
        when(col("m") > 1,
          round(col("gap_sum").cast("double") /
            (col("m") - 1L).cast("double")).cast("long"))
          .otherwise(lit(0L)).as("emd_micros"))
    emd.agg(
      count(lit(1)).as("n_classes"),
      max(col("m")).as("n_tiers"),
      max(col("emd_micros")).as("t_max_micros"),
      sum(when(col("emd_micros") > tMicros, 1L).otherwise(0L))
        .as("n_classes_over_t"),
      sum(when(col("emd_micros") > tMicros, col("sz")).otherwise(0L))
        .as("n_users_over_t"))
      .select(col("n_classes"), col("n_tiers"), col("t_max_micros"),
        col("n_classes_over_t"), col("n_users_over_t"),
        lit(tMicros).as("t_micros"))
  }

  /** `priv6_dp_median` — the EXPONENTIAL MECHANISM (McSherry & Talwar
    * 2007), the second classical DP primitive beside priv4's Laplace:
    * release each event type's median per-user activity count by
    * sampling a candidate value with probability ∝ exp(ε·u/2), where
    * the utility u(c) = −|rank(c) − n/2| (median utility, sensitivity
    * 1 — written as −|2·cum − n|/2 so it stays integral). The
    * exponential draw is DERANDOMIZED by the Gumbel-argmax identity
    * (the same device as samp11): argmax of score + Gumbel noise IS a
    * sample from the softmax, and the noise comes from
    * md5("dpm:type:candidate") — a seeded, reproducible release.
    * The true (lower) median rides along so the utility loss is
    * auditable.
    *
    * Scale shape: one user-keyed aggregation, then per-type candidate
    * histograms (distinct activity counts — bounded), a per-type
    * cumulative window, one argmax row_number. Nothing bigger than
    * the candidate sets shuffles after the first aggregation. */
  def dpMedian(s: SparkSession, dir: String,
               epsilonMicros: Long = 500000L): DataFrame = {
    val eps = epsilonMicros.toDouble / 1e6
    val perUser = Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val hist = perUser.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("freq"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wType = Window.partitionBy(col("event_type"))
    val u = (pmod(md5Base60(
        concat_ws("", lit("dpm:"), col("event_type"), lit(":"),
          col("c"))), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    val scored = hist
      .withColumn("cum", sum(col("freq")).over(wCum))
      .withColumn("n", sum(col("freq")).over(wType))
      .withColumn("s6", round(lit(-eps / 4.0) *
        abs(lit(2L) * col("cum") - col("n")).cast("double"), 6))
      .withColumn("g6", round(-log(-log(u)), 6))
      .withColumn("key_micros",
        round(lit(1e6) * (col("s6") + col("g6"))).cast("long"))
    val trueMed = scored
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy(col("event_type")).agg(min(col("c")).as("true_median"))
    scored
      .withColumn("rn", row_number().over(wType
        .orderBy(col("key_micros").desc, col("c").asc)))
      .filter(col("rn") === 1)
      .join(trueMed, "event_type")
      .select(col("event_type"), col("c").as("released_median"),
        col("true_median"), col("n").as("n_users"),
        lit(epsilonMicros).as("epsilon_micros"))
  }

  def dpCounts(s: SparkSession, dir: String,
               epsilonMicros: Long = 500000L): DataFrame = {
    val b = 1e6 / epsilonMicros.toDouble // Laplace scale 1/ε
    val u = (pmod(md5Base60(
        concat_ws("", lit("dp:"), col("event_type"))), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .withColumn("u", u)
      .select(col("event_type"), col("n_users"),
        round(lit(-b) * signum(col("u") - lit(0.5)) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))), 6)
          .as("noise"),
        lit(epsilonMicros).as("epsilon_micros"),
        lit(1L).as("sensitivity"))
      .select(col("event_type"), col("n_users"),
        round(col("noise") * lit(1e6)).cast("long").as("noise_micros"),
        (col("n_users") + round(col("noise")).cast("long"))
          .as("released_count"),
        col("epsilon_micros"), col("sensitivity"))
  }

  /** `priv8_dp_topk` — one-shot DP top-k via the Gumbel-max trick
    * (Durfee & Rogers 2019: adding Gumbel noise to the utilities and
    * taking the top k is EXACTLY k sequential exponential mechanisms,
    * in one pass): release the k "heaviest" tokens where utility =
    * distinct-document frequency (sensitivity 1 — a document
    * contributes at most once per token), noisy score = (ε/2)·df +
    * Gumbel. The DP sibling of text_heavy_hitters: same question
    * answered through the Gumbel-max mechanism's selection rule. True
    * dfs ride along as the utility audit (the priv6 convention; a
    * real deployment would not emit them).
    *
    * NOT a formally private release: the Gumbel draw is
    * md5-DERANDOMIZED from the token itself (the priv4/priv6
    * determinism device — a deterministic function of the data, not
    * randomness, so the DP guarantee does not hold as stated), and
    * `epsilon_micros` reports the PER-SELECTION ε with no k-fold
    * composition accounting. This face is a deterministic replay of
    * the mechanism's arithmetic for oracle parity; a deployment swaps
    * in a real Gumbel sampler and composes ε across the k picks.
    *
    * Determinism: the derandomized draw is 6dp-rounded and summed as
    * one micro-quantized key both engines compare identically.
    *
    * Scale shape: one distinct (doc, token) rollup (the postings
    * shape), a map-side-combinable token count, TakeOrderedAndProject
    * for the k winners — nothing bigger than the token domain ever
    * shuffles. */
  def dpTopK(s: SparkSession, dir: String, k: Int = 10,
             epsilonMicros: Long = 1000000L): DataFrame = {
    val eps = epsilonMicros.toDouble / 1e6
    val dfs = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val u = (pmod(md5Base60(
        concat(lit("dpt:"), col("token"))), lit(1000000L))
      .cast("double") + lit(0.5)) / lit(1000000.0)
    dfs
      .withColumn("s6", round(lit(eps / 2.0) * col("df").cast("double"), 6))
      .withColumn("g6", round(-log(-log(u)), 6))
      .withColumn("key_micros",
        round(lit(1e6) * (col("s6") + col("g6"))).cast("long"))
      .orderBy(col("key_micros").desc, col("token").asc)
      .limit(k)
      .select(
        row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("key_micros").desc, col("token").asc))
          .cast("long").as("rank"),
        col("token"), col("df").as("true_df"), col("key_micros"),
        lit(epsilonMicros).as("epsilon_micros"))
  }

  /** `priv7_rand_response` — Warner's randomized response (1965), the
    * LOCAL-DP mechanism the central mechanisms (priv4 Laplace, priv6
    * exponential) can't replace: each subject perturbs their OWN bit
    * before it ever reaches the aggregator, so no trusted curator
    * exists anywhere. Per event type, the sensitive bit is "this user
    * has ≥ 1 event of the type"; each (user, type) reports the truth
    * with p = 3/4 and the flip with 1/4 (ε = ln 3 local DP), then the
    * aggregate debiases: π̂ = (r/n − (1−p)) / (2p−1). The true count
    * rides along as the utility audit (same pattern as priv6's true
    * median) — at real deployment it would not be computable at all.
    *
    * Determinism: the coin is md5-derandomized per (type, user), so
    * both engines flip the same subjects; everything else is integer
    * counting plus one quantized divide per type row.
    *
    * Scale shape: one distinct (user, type) rollup, one user-list ×
    * k-types grid via a broadcast type frame, one (type) aggregation
    * — map-side combinable end to end. */
  def randResponse(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val users = e.select(col("user_id")).distinct()
    val types = broadcast(e.select(col("event_type")).distinct())
    val has = e.select(col("user_id"), col("event_type")).distinct()
      .withColumn("b", lit(1L))
    users.crossJoin(types)
      .join(has, Seq("user_id", "event_type"), "left")
      .select(col("user_id"), col("event_type"),
        coalesce(col("b"), lit(0L)).as("b"))
      .withColumn("flip",
        when(pmod(md5Base60(
          concat_ws("", lit("rr:"), col("event_type"), lit(":"),
            col("user_id"))), lit(4L)) === 3L, 1L).otherwise(0L))
      .withColumn("r",
        (col("b") + col("flip")) % 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("b")).as("true_yes"),
        sum(col("r")).as("reported_yes"))
      .select(col("event_type"), col("n"), col("true_yes"),
        col("reported_yes"),
        round(lit(1e6) *
          (col("reported_yes").cast("double") / col("n").cast("double")
            - 0.25) / 0.5).cast("long").as("est_frac_micros"),
        round(lit(1e6) * col("true_yes").cast("double") /
          col("n").cast("double")).cast("long").as("true_frac_micros"))
  }
}
