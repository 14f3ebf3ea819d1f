package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Event-stream analytics: ordered funnels, cohort retention, and
  * time-series gap filling — the OLAP layer a training-data pipeline's
  * telemetry (and any product built on the engine) needs over the
  * `events` table.
  *
  * Scale notes: every operator aggregates to user- or time-bucket
  * granularity before anything wide happens; the per-user stages reuse
  * one hash partitioning on user_id across consecutive aggregations.
  * Scalar inputs (stream start, funnel base) stay DataFrames and reach
  * the plan as single-row broadcasts — no driver round-trips.
  */
object EventAnalytics {

  /** Ordered funnel view → click → purchase: a user counts for a stage
    * only if the stage event happens strictly AFTER their entry into
    * the previous stage (min-timestamp semantics). Three groupBys on
    * user_id — same partitioning, so stages 2 and 3 shuffle nothing
    * new; the stage joins stay co-partitioned. Emits one row per stage
    * with the conversion rate from stage 1.
    */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelFrom(s, dir, within = None)

  /** Time-BOUNDED funnel: each stage must fire within `within` of
    * entering the previous stage (the attribution-window form every
    * product funnel actually uses — an unbounded funnel credits a
    * purchase to a view from weeks earlier). Same plan shape as the
    * unbounded [[funnel]]: the window bound is one extra pushed-down
    * filter predicate, no new shuffle. */
  def windowedFunnel(s: SparkSession, dir: String): DataFrame =
    funnelFrom(s, dir, within = Some("1 HOUR"))

  private def funnelFrom(s: SparkSession, dir: String,
                         within: Option[String]): DataFrame = {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    def after(prev: Column): Column = within match {
      case Some(iv) => col("ts") > prev && col("ts") <= prev + expr(s"INTERVAL $iv")
      case None     => col("ts") > prev
    }
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(after(col("t_view")))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(after(col("t_click")))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    val stages = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
      }.reduce(_ unionAll _)
    val base = v.agg(count(lit(1)).as("base"))
    stages.crossJoin(broadcast(base))
      .select(col("stage"), col("n_users"),
        round(col("n_users") / col("base"), 6).as("conversion"))
  }

  /** Cohort retention: users grouped by first-seen week, counted in each
    * subsequent active week. Two aggregations — user→cohort (one
    * shuffle on user_id) and (cohort, week)→count (tiny exchange of
    * bucket pairs). Weeks emitted as date strings, timezone-free.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
    val cohort = e.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    e.join(cohort, "user_id")
      .groupBy(col("cohort_week"), col("week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        date_format(col("week"), "yyyy-MM-dd").as("week"),
        floor(datediff(col("week"), col("cohort_week")) / 7).cast("long")
          .as("week_offset"),
        col("n_users"))
  }

  /** Minute-grid gap filling with last-observation-carried-forward:
    * build the dense minute grid with sequence+explode (no driver
    * loop), left-join the per-minute aggregate, then LOCF via
    * last(ignoreNulls) over an unbounded-preceding window per type.
    * Bounded to the first `minutes` of the stream so the output is a
    * fixture-sized face; the grid generation itself is O(grid), not
    * O(events), and at scale is partitioned by (type, day).
    */
  def gapFill(s: SparkSession, dir: String, minutes: Int = 120): DataFrame = {
    val e = Tables.events(s, dir)
    val bounds = e.agg(date_trunc("minute", min(col("ts"))).as("t0"))
    val step = expr("INTERVAL 1 MINUTE")
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), col("t0"), explode(sequence(
        col("t0"), col("t0") + expr(s"INTERVAL ${minutes - 1} MINUTES"),
        step)).as("minute"))
    val perMin = e
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), date_trunc("minute", col("ts")).as("minute"),
        col("value"), col("t0"))
      .filter(col("minute") < col("t0") + expr(s"INTERVAL $minutes MINUTES"))
      .groupBy(col("event_type"), col("minute"))
      // avg as exact-decimal-sum / count: double summation order is
      // engine-dependent and this value feeds LOCF, so drift would smear
      .agg(round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double") / count(lit(1)), 6).as("avg_value"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perMin, Seq("event_type", "minute"), "left")
      .select(col("event_type"),
        date_format(col("minute"), "yyyy-MM-dd HH:mm").as("minute"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("avg_value").isNull.as("filled"),
        last(col("avg_value"), ignoreNulls = true).over(w).as("value_locf"))
  }

  /** Last-touch attribution: every purchase is credited to the user's
    * most recent STRICTLY-PRECEDING view/click (the touch). One window
    * over user_id with a rows-frame ending at 1 PRECEDING does the whole
    * job — no self-join, no per-purchase subquery, one exchange on
    * user_id; the as-of join form ([[graft.operators.AsOf]]) is for
    * touches and conversions living in different tables. Ordering is
    * pinned on (epoch micros, event_id) so ties resolve identically in
    * any engine; purchases with no prior touch attribute to 'none' with
    * a null gap.
    */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val isTouch = col("event_type").isin("view", "click")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .withColumn("touch_us",
        last(when(isTouch, col("us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        coalesce(col("touch_type"), lit("none")).as("touch_type"),
        ((col("us") - col("touch_us")) / 1000000L).cast("long").as("gap_s"))
  }

  /** Event-type transition mining (the Markov-chain estimation step of
    * behavioral analytics): per user, each event pairs with its
    * immediate successor via ONE lag window on the user_id exchange;
    * transition counts and row-normalized probabilities come from a
    * (from, to)-keyed aggregate — 9 keys however many events flow
    * through. Ordering pinned on (epoch micros, event_id); the
    * normalizing row total is a whole-frame window over the 9-row
    * aggregate, not a second scan.
    */
  def transitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("row_total"), 6).as("p"))
  }

  /** Trailing-window anomaly detection: per minute and event type, the
    * z-score of the event count against the PRECEDING `trail` minutes
    * (a frame ending at 1 PRECEDING — the current observation never
    * contaminates its own baseline). Mean and variance come from
    * sum / sum-of-squares over the frame in exact integers, so the
    * flag is bit-stable anywhere. One exchange (event_type) over
    * minute-grain aggregates — the monitoring query that runs forever
    * at any scale because its input is already aggregated.
    */
  def anomalyScores(s: SparkSession, dir: String,
                    trail: Int = 30, z: Double = 3.0): DataFrame =
    scoreAnomalies(
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("minute", col("ts")).as("minute"))
        .agg(count(lit(1)).as("n")),
      trail, z)

  /** The serving-time scoring layer of [[anomalyScores]], over any
    * (event_type, minute TIMESTAMP, n) frame — the batch operator feeds
    * it the full-scan aggregate; the streaming twin
    * (streaming.EventStreams.minuteTypeCounts) feeds it
    * watermark-closed window counts. The z-score is a whole-history
    * rank no per-key stream can maintain (each minute's baseline is the
    * preceding `trail` minutes, which a late-closing window would
    * retroactively change), so it stays batch — the same
    * state-vs-serving split as the RFM quartiles. */
  def scoreAnomalies(perMin: DataFrame,
                     trail: Int = 30, z: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute"))
      .rowsBetween(-trail, -1)
    perMin
      .withColumn("k", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("k") >= 10) // need a baseline before judging
      .select(col("event_type"),
        date_format(col("minute"), "yyyy-MM-dd HH:mm").as("minute"),
        col("n"),
        round(col("s1").cast("double") / col("k"), 6).as("trail_mean"),
        round((col("n") - col("s1").cast("double") / col("k")) /
          sqrt(greatest(
            (col("s2").cast("double") - col("s1").cast("double") *
              col("s1") / col("k")) / (col("k") - 1), lit(1e-6))), 6)
          .as("z_score"))
      .withColumn("anomaly", abs(col("z_score")) > z)
  }

  /** DAU / WAU / stickiness — the engagement headline metrics. Two
    * distinct-count aggregations at different time grains (day, week)
    * joined day→its-week; stickiness = DAU/WAU. Exact distincts here;
    * at 100 TB the same query runs on merged HLL sketches
    * ([[Relational.stat6SketchUnion]] is that path) with identical
    * shape. The week key is date_trunc so day→week needs no range
    * join — just an equality on the truncated timestamp.
    */
  def dauWau(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        date_trunc("week", col("ts")).as("week"))
    val dau = e.groupBy(col("day"), col("week"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = e.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("week"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /** RFM (recency / frequency / monetary) customer scoring — the
    * segmentation aggregate every telemetry warehouse ships. One
    * hash-aggregate per user builds the three metrics; the quartile
    * scoring then ranks the aggregated USER dimension, not the event
    * stream — and because the entity frame itself grows with the user
    * population, the ranks come from [[Ranking.withGlobalRank]]'s
    * range-partitioned exact rank plus closed-form ntile arithmetic
    * (no single-partition sort anywhere). Recency is measured against
    * the corpus max timestamp via a broadcast 1-row aggregate;
    * monetary sums as exact decimal; every ordering carries a user_id
    * tie-break so the quartile boundaries are engine-independent.
    */
  def rfmScores(s: SparkSession, dir: String): DataFrame =
    rfmRank(Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("monetary")))

  /** The ranking layer of [[rfmScores]] over an already-aggregated
    * per-user frame (user_id, last_us, frequency, monetary) — exposed
    * separately because the per-user state is the STREAMABLE half (see
    * streaming.EventStreams.rfmStream): a stream maintains the three
    * metrics incrementally, and this batch layer ranks the entity
    * dimension at serving time. */
  def rfmRank(perUser: DataFrame): DataFrame = {
    // checkpointed once: the recency anchor and the three rank passes
    // all read the entity frame; without the cut each would recompute
    // the caller's aggregation lineage
    val pu = perUser.localCheckpoint(true)
    // entity frames grow with the user population, so the quartiles
    // come from graft.operators.Ranking's scalable exact rank (range
    // partitions + closed-form ntile arithmetic) instead of ntile over
    // a single-partition window — bit-identical, every ordering
    // user_id tie-broken; the recency anchor is a broadcast 1-row agg
    // instead of a whole-frame window
    def quartile(d: DataFrame, name: String,
                 ord: org.apache.spark.sql.Column*) =
      Ranking.withGlobalRank(d, "__rn", "__n", ord)
        .withColumn(name, Ranking.ntileOfRank(col("__rn"), col("__n"), 4))
        .drop("__rn", "__n")
    val base = pu
      .crossJoin(broadcast(pu.agg(max(col("last_us")).as("__max_us"))))
      .withColumn("recency_days",
        ((col("__max_us") - col("last_us")) /
          (86400L * 1000000L)).cast("long"))
      .drop("__max_us")
    val scored = quartile(
      quartile(
        quartile(base, "r_score", col("last_us").desc, col("user_id").asc),
        "f_score", col("frequency").desc, col("user_id").asc),
      "m_score", col("monetary").desc, col("user_id").asc)
    scored
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"))
      .withColumn("segment", concat(col("r_score"), col("f_score"),
        col("m_score")))
  }

  /** Multi-touch purchase attribution: every purchase credits the
    * CLICKS since the user's previous purchase — first-touch id,
    * last-touch id, and the per-click linear credit (value split
    * evenly). The segment assignment is the classic
    * prior-purchase-count trick: a single window pass stamps every
    * event with the number of purchases STRICTLY BEFORE it (rows
    * unbounded-preceding to 1-preceding), so clicks and their following
    * purchase share a (user, segment) key; no time-range self-join
    * exists anywhere.
    *
    * Scale shape: one hash shuffle on user_id (window), then a
    * (user, segment) click aggregation and an equi-join of two frames
    * already partitioned by user — co-partitioned, no data-sized
    * broadcast. Determinism: touch order is (ts, event_id) via the
    * window's row_number, first/last via min_by/max_by on that unique
    * ordinal; credits are micro-quantized before the divide. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val stamped = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), round(col("value") * 1e6).cast("long").as("vm"))
      .withColumn("rn", row_number().over(w))
      .withColumn("seg", coalesce(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val clicks = stamped.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("seg"))
      .agg(count(lit(1)).as("n_touches"),
        min_by(col("event_id"), col("rn")).as("first_click_id"),
        max_by(col("event_id"), col("rn")).as("last_click_id"))
    stamped.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id", "seg"), "left")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("vm").as("value_micros"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        col("first_click_id"), col("last_click_id"),
        when(col("n_touches").isNotNull,
          round(col("vm").cast("double") / col("n_touches")).cast("long"))
          .as("linear_credit_micros"))
  }

  /** Rolling OLS trend over the last 16 events per user: slope of
    * value-micros against the event ordinal, from the closed-form
    * normal equations (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — the
    * trend-detection companion to [[ewmaSpikes]]'s level monitor.
    *
    * Scale shape: one shuffle (hash by user), two window passes on the
    * same partitioning (ordinal, then the 16-row frame sums). EVERY
    * frame sum is an exact integer sum of bounded products (ordinal ≤
    * per-user count, values in micros — far inside long range), so the
    * slope is a single IEEE divide on exact integers per row. */
  def rollingSlope(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        round(col("value") * 1e6).cast("long").as("y"))
      .withColumn("x", row_number().over(wOrd).cast("long"))
    val wFrame = Window.partitionBy(col("user_id")).orderBy(col("x"))
      .rowsBetween(-15, Window.currentRow)
    base
      .withColumn("n", count(lit(1)).over(wFrame))
      .withColumn("sx", sum(col("x")).over(wFrame))
      .withColumn("sy", sum(col("y")).over(wFrame))
      .withColumn("sxx", sum(col("x") * col("x")).over(wFrame))
      .withColumn("sxy", sum(col("x") * col("y")).over(wFrame))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .select(col("event_id"), col("user_id"), col("x").as("ordinal"),
        col("n").as("frame_n"),
        when(col("den") > 0,
          round(lit(1e6) *
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            col("den")).cast("long"))
          .otherwise(lit(null).cast("long")).as("slope_e6"))
  }

  /** Event-type transition matrix (first-order Markov estimate):
    * P(next | current) over each user's (ts, event_id)-ordered stream —
    * the behavioral model behind next-action prediction and
    * anomalous-sequence detection. Emits (from_type, to_type, n,
    * p_micros) for every observed transition.
    *
    * Scale shape: one window pass (lead over the per-user ordering,
    * same user_id shuffle every event operator reuses), then a
    * type-pair aggregation — map-side combined to ≤|types|² partials;
    * the row-probability folds over the tiny cell frame via a window.
    * All-integer counts; one IEEE divide per cell, micro-rounded. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cells = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        round(lit(1e6) * col("n").cast("double") / col("n_from"))
          .cast("long").as("p_micros"))
  }

  /** Signup→purchase conversion latency — the time-to-convert
    * distribution behind every activation funnel review ([[lifecycle]]
    * says WHO converts, this says HOW LONG it takes): per signed-up
    * user, the delay from first signup to the first purchase at or
    * after it, rolled up to conversion rate + p50/p90/max latency.
    * A purchase BEFORE any signup does not count as a conversion (the
    * attribution guard).
    *
    * Scale shape: two filtered user-keyed aggregations + one
    * co-partitioned join on user_id; the percentile aggregation reuses
    * stat1's exact-sort contract (swap percentile_approx at 100 TB,
    * same plan). One output row. */
  def timeToConvert(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"))
      .localCheckpoint(true) // feeds the base count AND the join
    val firstConv = signups
      .join(e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us")),
        Seq("user_id"))
      .filter(col("p_us") >= col("s_us"))
      .groupBy(col("user_id"), col("s_us"))
      .agg(min(col("p_us")).as("p_us"))
      .select(col("user_id"), (col("p_us") - col("s_us")).as("delta_us"))
    // aggregate each side GLOBALLY, then cross the two one-row frames:
    // a global agg over an empty converted frame still yields its one
    // row (n_converted = 0, null latencies), so a zero-conversion
    // corpus reports conv_micros = 0 instead of an empty result —
    // grouping on the converted side would silently drop the report
    val convStats = firstConv.agg(count(lit(1)).as("n_converted"),
      round(expr("percentile(delta_us, 0.5)") / 1e6, 4).as("p50_s"),
      round(expr("percentile(delta_us, 0.9)") / 1e6, 4).as("p90_s"),
      round(max(col("delta_us")).cast("double") / 1e6, 4).as("max_s"))
    signups.agg(count(lit(1)).as("n_signup"))
      .crossJoin(broadcast(convStats))
      .select(col("n_signup"), col("n_converted"),
        when(col("n_signup") > 0,
          round(lit(1e6) * col("n_converted").cast("double") /
            col("n_signup").cast("double")).cast("long"))
          .as("conv_micros"),
        col("p50_s"), col("p90_s"), col("max_s"))
  }

  /** Kaplan–Meier product-limit survival curve (Kaplan & Meier 1958)
    * for signup→purchase conversion with administrative right-
    * censoring at corpus end — the estimator [[timeToConvert]]'s
    * percentiles silently get wrong when users are still "alive":
    * a user who signed up 3 days before the corpus ends and hasn't
    * purchased is CENSORED at day 3, not a non-converter, and KM is
    * the standard way to use exactly that partial information.
    *
    * Subjects: first signup per user; event time = whole days to
    * first purchase at/after signup; censor time = whole days from
    * signup to the global max event timestamp (so every observed
    * event day ≤ its censor bound by construction). Risk set n_i
    * follows the deaths-before-censorings convention: n_i counts
    * subjects with observed time ≥ t_i, including those censored AT
    * t_i. Output, one row per event day: (day, n_risk, n_events,
    * n_censored, surv_micros) with S(t) = Π_{j≤i}(1 − d_j/n_j).
    *
    * Scale shape: subject table = two user-keyed aggregations + one
    * join (same kernel as [[timeToConvert]]); everything after is a
    * day-keyed aggregate — the windowed product runs over ≤ #calendar
    * days rows, calendar-bounded like ts1–ts9, so the single-
    * partition window never sees data-sized input. Determinism: each
    * day's log-factor ln(1 − d/n) is micro-nat-quantized BEFORE the
    * cumulative integer sum (the zipf/heaps convention), one exp per
    * output row; a day where the whole risk set converts (d = n)
    * takes a −1000-nat sentinel so survival underflows to exactly 0
    * in both engines instead of tripping ln(0). */
  def kmSurvival(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val maxUs = broadcast(e.agg(max(unix_micros(col("ts"))).as("max_us")))
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"))
    val firstConv = signups
      .join(e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us")),
        Seq("user_id"))
      .filter(col("p_us") >= col("s_us"))
      .groupBy(col("user_id"), col("s_us"))
      .agg(min(col("p_us")).as("p_us"))
    val subjects = signups
      .join(firstConv.select(col("user_id"), col("p_us")),
        Seq("user_id"), "left")
      .crossJoin(maxUs)
      .select(col("user_id"),
        when(col("p_us").isNotNull,
          expr("(p_us - s_us) DIV 86400000000"))
          .otherwise(expr("(max_us - s_us) DIV 86400000000")).as("day"),
        col("p_us").isNotNull.as("is_event"))
    val cells = subjects.groupBy(col("day"))
      .agg(sum(when(col("is_event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("is_event"), 0L).otherwise(1L)).as("c"))
    val nTotal = broadcast(subjects.agg(count(lit(1)).as("n_total")))
    val before = Window.partitionBy(lit(1)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val upTo = Window.partitionBy(lit(1)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.crossJoin(nTotal)
      .withColumn("n_risk",
        col("n_total") -
          coalesce(sum(col("d") + col("c")).over(before), lit(0L)))
      .withColumn("lf",
        when(col("d") === 0L, lit(0L))
          .when(col("d") === col("n_risk"), lit(-1000000000L))
          .otherwise(round(lit(1e6) *
            log(lit(1.0) - col("d").cast("double") /
              col("n_risk").cast("double"))).cast("long")))
      .withColumn("cum_lf", sum(col("lf")).over(upTo))
      .filter(col("d") > 0)
      .select(col("day"), col("n_risk"), col("d").as("n_events"),
        col("c").as("n_censored"),
        round(lit(1e6) * exp(col("cum_lf").cast("double") / lit(1e6)))
          .cast("long").as("surv_micros"))
  }

  /** Daily conversion rate with Wilson score intervals — the
    * uncertainty-aware funnel readout (a 30%-conversion day on 10
    * users is NOT a signal; the Wilson band says so): per day, active
    * users n, purchasers k, p̂ = k/n, and the z = 1.96 Wilson bounds —
    * the interval that behaves at small n and p near 0/1 where the
    * normal approximation collapses.
    *
    * Scale shape: one distinct (user, day, purchased-flag) rollup →
    * one day-keyed aggregation; the interval math is a fixed IEEE
    * expression per day row (z² literals, one sqrt), 6dp-rounded like
    * the BM25 score chain. */
  def conversionCi(s: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    val perUserDay = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"), col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("long"))
        .as("converted"))
    val daily = perUserDay.groupBy(col("d"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
    val n = col("n_users").cast("double")
    val p = col("n_conv").cast("double") / n
    val z2 = lit(z * z)
    val center = (p + z2 / (lit(2.0) * n)) / (lit(1.0) + z2 / n)
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (lit(4.0) * n * n))) / (lit(1.0) + z2 / n)
    daily.select(date_format(col("d"), "yyyy-MM-dd").as("d"),
      col("n_users"), col("n_conv"),
      round(p, 6).as("p_hat"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
  }

  /** Stationary distribution of the [[markovTransitions]] chain —
    * where user behavior settles long-run (the equilibrium share of
    * each event type), closing the Markov pair the way eval2 closes
    * ANN: the transition estimate says where users go NEXT, this says
    * where the chain LIVES. Power iteration π ← πP, 20 rounds, on the
    * collected ≤|types|² transition model (the cusum/mmr convention) —
    * all-integer micro arithmetic: π₀ = 1e6 div k uniform, each update
    * πⱼ = round(Σᵢ πᵢ·pᵢⱼ / 1e6) on exact long products, so the oracle
    * replays the identical trajectory as a recursive CTE.
    *
    * Scale shape: the data-sized stage is markovTransitions' one
    * lead-window pass + pair aggregation; the iteration runs on a
    * ≤ k² model. Mass stays within k/2 micros of 1e6 per round
    * (rounding drift only — asserted in the spec). */
  def markovStationary(s: SparkSession, dir: String,
                       iters: Int = 20): DataFrame = {
    val trans = markovTransitions(s, dir)
      .select(col("from_type"), col("to_type"), col("p_micros"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import s.implicits._
    if (trans.isEmpty)
      return Seq.empty[(String, Long, Long)]
        .toDF("state", "pi_micros", "n_iters")
    // state space = from ∪ to types: a type that only ever ends user
    // histories (appears as to_type, never from_type) must keep the
    // mass flowing into it — it gets the standard absorbing-state
    // SELF-LOOP (p = 1), the same in-degree-0/out-degree-0 guard the
    // pagerank oracle carries. Iterating from-states only would leak
    // that mass each round AND disagree with the recursive oracle's
    // to_type-keyed row set.
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
    val p = trans.groupBy(_._1).map { case (f, ts) =>
      f -> ts.map(t => t._2 -> t._3).toMap }
    def pOf(i: String): Map[String, Long] =
      p.getOrElse(i, Map(i -> 1000000L))
    var pi: Map[String, Long] =
      states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to iters) {
      val next = states.map { j =>
        val acc = states.map(i => pi(i) * pOf(i).getOrElse(j, 0L)).sum
        j -> BigDecimal(acc.toDouble / 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }.toMap
      pi = next
    }
    states.map(st => (st, pi(st), iters.toLong)).toSeq
      .toDF("state", "pi_micros", "n_iters")
  }

  /** `ev25_absorption` — expected steps to absorption in the event
    * Markov chain (the absorbing-chain companion of ev21's stationary
    * vector): with `target` as the absorbing state, the expected
    * visit count t = (I − Q)⁻¹·1 is computed as the truncated Neumann
    * series t_{k+1} = 1 + Q·t_k over the transient block — the
    * power-iteration discipline ev21 already uses, which needs no
    * matrix inverse and stays exact-integer per step. t_h reads as
    * "expected steps spent before absorption, truncated at horizon
    * h": a state that cannot reach the target saturates at h·1e6
    * micros — the visible "never converts" sentinel, not an error.
    *
    * Scale/determinism: the DATA-sized stage is the one transition
    * count (user-keyed window + cell rollup, shared with ev10/ev21);
    * the chain itself is a ≤ #event-types model COLLECT (the kmeans
    * discipline) iterated driver-side; each step's mass sum is an
    * exact integer sum, scaled back once per state per round with the
    * shared HALF_UP micro-round. The DuckDB twin replays the same
    * iteration as a recursive CTE over the shared chain CTEs. */
  def markovAbsorption(s: SparkSession, dir: String,
                       target: String = "purchase",
                       horizon: Int = 40): DataFrame = {
    val trans = markovTransitions(s, dir)
      .select(col("from_type"), col("to_type"), col("p_micros"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import s.implicits._
    if (trans.isEmpty)
      return Seq.empty[(String, Long, Long)]
        .toDF("state", "exp_steps_micros", "horizon")
    val states = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
    val p = trans.groupBy(_._1).map { case (f, ts) =>
      f -> ts.map(t => t._2 -> t._3).toMap }
    // same absorbing-state self-loop guard as ev21
    def pOf(i: String): Map[String, Long] =
      p.getOrElse(i, Map(i -> 1000000L))
    val transient = states.filterNot(_ == target)
    var t: Map[String, Long] = transient.map(_ -> 0L).toMap
    for (_ <- 1 to horizon) {
      t = transient.map { i =>
        val acc = transient.map(j => pOf(i).getOrElse(j, 0L) * t(j)).sum
        i -> (1000000L + BigDecimal(acc.toDouble / 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }.toMap
    }
    transient.map(st => (st, t(st), horizon.toLong)).toSeq
      .toDF("state", "exp_steps_micros", "horizon")
  }

  /** Top-k session paths: the behavioral-path mining query ("what do
    * users actually do in a visit") — sessions form with the SAME
    * gaps-and-islands definition as w5_sessionize (gap ≥ 30 min closes
    * a session), each session folds its (ts, event_id)-ordered
    * event-type sequence into a '>'-joined path string, and paths rank
    * by session count.
    *
    * Scale shape: one user_id shuffle covers both window passes AND
    * the per-session aggregation (same partitioning); the path fold is
    * array_sort over a collected session — bounded by session length,
    * not user history — and only (path, count) partials reach the final
    * tiny aggregation. Fully tie-broken LIMIT. */
  def sessionPaths(s: SparkSession, dir: String, k: Int = 20,
                   gapMin: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("us", unix_micros(col("ts")))
    val prevUs = lag(col("us"), 1).over(byUser)
    e
      .withColumn("new_sess",
        when(prevUs.isNull ||
          col("us") - prevUs >= gapMin * 60L * 1000000L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Per-user EWMA + spike detection over the event-value series —
    * the streaming-telemetry anomaly monitor, in batch form. The EWMA
    * is the α=0.25 exponential average truncated to the last 8 events
    * (a fixed-depth lag fan: num = Σⱼ 0.75ʲ·vₜ₋ⱼ / Σⱼ 0.75ʲ over
    * present rows), so it is a FIXED-SHAPE expression rather than an
    * unbounded recursion — replayable on any engine and equivalent to
    * the geometric recursion to within 0.75⁸ ≈ 10% tail mass.
    *
    * Scale shape: one shuffle (hash by user_id) + per-user sort; the
    * lag fan is a single window pass with an 8-row frame, state bounded
    * per user. The streaming twin is EventStreams.ewmaStream
    * (transformWithState, 8-long ring). Determinism: values
    * micro-quantize to longs on entry; 0.75ʲ are exact binary doubles,
    * so every product and the fixed left-to-right sum are identical
    * IEEE sequences on any engine. Spike: value > 2× its window EWMA. */
  def ewmaSpikes(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val depth = 8
    val m = round(col("value") * 1e6).cast("long")
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), m.as("m"))
    val lags = (0 until depth).map(j =>
      if (j == 0) col("m").as("l0") else lag(col("m"), j).over(w).as(s"l$j"))
    val lagged = base.select(col("event_id") +: col("user_id") +:
      col("m") +: lags: _*)
    // 0.75^j via iterated exact multiplication (3^j fits the mantissa),
    // NOT math.pow (allowed 1-ulp error) — the oracle's decimal
    // literals must equal these doubles bit-for-bit.
    val wts = Iterator.iterate(1.0)(_ * 0.75).take(depth).toSeq
    val num = (0 until depth).map(j =>
        when(col(s"l$j").isNotNull,
          lit(wts(j)) * col(s"l$j").cast("double"))
          .otherwise(lit(0.0)))
      .reduce(_ + _)
    val den = (0 until depth).map(j =>
        when(col(s"l$j").isNotNull, lit(wts(j)))
          .otherwise(lit(0.0)))
      .reduce(_ + _)
    lagged
      .withColumn("ewma_micros", round(num / den).cast("long"))
      .withColumn("spike",
        (col("m") > lit(2L) * col("ewma_micros")).cast("long"))
      .select(col("event_id"), col("user_id"), col("m").as("value_micros"),
        col("ewma_micros"), col("spike"))
  }

  /** Sample autocorrelation of the daily event-count series at lags
    * 1..`maxLag` — the periodicity probe for ingest telemetry (a weekly
    * cycle shows as a lag-7 peak, a dying pipeline as fast decay).
    *
    * Scale shape: ONE data-sized aggregation (count per UTC day — the
    * same map-side-partial shape as a word count); everything after
    * runs on the ≤#days-row model frame, so the global-order window is
    * a model sort, not a data sort. Determinism: deviations are scaled
    * to integers (devₜ = n·xₜ − Σx, so no fractional mean appears);
    * numerator and denominator are exact integer sums of their
    * products, and the single IEEE divide rounds to 6dp. Products are
    * bounded by (n·max_day)² · n — overflow-safe while daily counts
    * stay under ~2 × 10⁹/√n̄ (far past any fixture SF; at real scale
    * pre-scale counts to thousands). */
  /** The daily event-count series — the shared data-sized stage of
    * every ts-family operator (ts3/ts4/ts5): one word-count-shaped
    * aggregation to ≤ #days rows, materialized once because every
    * consumer reads it from several subtrees. */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)

  def autocorr(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val daily = dailyCounts(s, dir)
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("d"), (col("n") * col("x") - col("sx")).as("dv"))
    val w = Window.orderBy(col("d")) // model-sized frame (≤ #days rows)
    val lagged = dev.select(col("dv") +:
      (1 to maxLag).map(k => lag(col("dv"), k).over(w).as(s"l$k")): _*)
    val agg = lagged.agg(
      sum(col("dv") * col("dv")).as("den"),
      (1 to maxLag).map(k =>
        sum(col("dv") * col(s"l$k")).as(s"num$k")): _*)
    val stacked = expr(s"stack($maxLag, " +
      (1 to maxLag).map(k => s"${k}L, num$k").mkString(", ") +
      ") as (lag_k, num)")
    agg.select(stacked, col("den"))
      .select(col("lag_k"), col("num"), col("den"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("acf"))
  }

  /** Theil–Sen robust trend of the daily event-count series: the
    * median over all pairwise slopes (xⱼ−xᵢ)/(j−i) — immune to the
    * outlier days that wreck an OLS trend (the robust twin of
    * ts2's rolling OLS).
    *
    * Scale shape: the data-sized stage is the same daily-count
    * aggregation as ts3; the O(days²) pair enumeration runs on the
    * ≤#days model frame (≤ ~500 pairs per month of telemetry) — at any
    * horizon the day count, not the event count, bounds it. Exactness:
    * each slope is an integer floor division of micro-day units
    * (truncation toward zero — Spark `div` and DuckDB `//` agree), and
    * the median is the LOWER order statistic at rank (m+1) div 2 — a
    * selection, not an average, so no fractional midpoint exists. */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
    val idx = daily.select(
      row_number().over(Window.orderBy(col("d"))).cast("long").as("i"),
      col("x"))
    val slopes = idx.select(col("i").as("ia"), col("x").as("xa"))
      .join(idx.select(col("i").as("ib"), col("x").as("xb")),
        col("ib") > col("ia"))
      .select(expr("((xb - xa) * 1000000) div (ib - ia)").as("slope_micros"))
    val m = slopes.agg(count(lit(1)).as("m"))
    slopes
      .withColumn("rk",
        row_number().over(Window.orderBy(col("slope_micros"))).cast("long"))
      .crossJoin(broadcast(m))
      .filter(col("rk") === expr("(m + 1) div 2"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("m").as("n_pairs"), col("slope_micros"))
  }

  /** Longest per-user daily-activity streak — gaps-and-islands: after
    * one distinct (user, day) aggregation, consecutive days share an
    * island key (epoch-day − per-user row_number), so each streak is
    * one group. Emits each user's active-day count, longest streak,
    * and that streak's start (earliest start wins ties).
    *
    * Scale shape: the distinct and every window/aggregation after it
    * share ONE hash partitioning on user_id — a single shuffle of
    * (user, date) pairs, bounded by users × days, not events. */
  def streaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val islands = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .withColumn("grp",
        datediff(col("d"), lit("1970-01-01").cast("date")).cast("long") -
          row_number().over(w).cast("long"))
    val st = islands.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("d")).as("start"))
    st
      .withColumn("n_active_days",
        sum(col("len")).over(Window.partitionBy(col("user_id"))))
      .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("len").desc, col("start").asc)))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("n_active_days"),
        col("len").as("max_streak"),
        date_format(col("start"), "yyyy-MM-dd").as("streak_start"))
  }

  /** Wald–Wolfowitz runs test on the daily series: is the
    * above/below-median sign sequence random, or does the pipeline
    * have regime drift? Signs split at the LOWER median (ties on the
    * median excluded, the standard treatment); the run count, n₁, n₂
    * are exact integers and the z-score is a fixed IEEE chain over
    * them, mirrored verbatim by the oracle. All post-aggregation work
    * is on the ≤ #days model frame. */
  def runsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
    val med = daily
      .withColumn("rk", row_number().over(Window.orderBy(col("x"), col("d"))))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("x").as("med"))
    val signs = daily.crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .select(col("d"), (col("x") > col("med")).cast("long").as("s"))
    val runsCol = signs
      .withColumn("prev", lag(col("s"), 1).over(Window.orderBy(col("d"))))
      .agg(
        (sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L))).as("runs"),
        sum(col("s")).as("n1"),
        sum(lit(1L) - col("s")).as("n2"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val mu = lit(1.0) + lit(2.0) * n1 * n2 / (n1 + n2)
    val va = (lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2)) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - lit(1.0)))
    runsCol.select(col("runs"), col("n1"), col("n2"),
      round(mu, 6).as("expected_runs"),
      round((col("runs").cast("double") - mu) / sqrt(va), 6).as("z"))
  }

  /** Hour-of-week seasonality profile + χ² uniformity: event counts
    * over the full 7×24 grid (absent cells materialize as ZERO rows —
    * dropping them silently biases the χ² toward uniform) with the
    * chi-square statistic against the flat profile.
    *
    * Scale shape: one 168-cell aggregation with map-side partials; the
    * grid is a 168-row broadcast built engine-side (spark.range cross).
    * Exactness: χ² = Σ(168·obs − n)² / (168·n) — the numerator is an
    * exact integer sum (the n/168 expected value never materializes as
    * a fraction), one micro-rounded divide at the end. */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("dow"), col("hr")).agg(count(lit(1)).as("obs"))
    val grid = s.range(1, 8).select(col("id").as("dow"))
      .crossJoin(s.range(0, 24).select(col("id").as("hr")))
    val full = grid.join(obs, Seq("dow", "hr"), "left")
      .select(col("dow"), col("hr"),
        coalesce(col("obs"), lit(0L)).as("obs"))
      .localCheckpoint(true) // 168 rows; feeds totals + devs + output
    val tot = full.agg(sum(col("obs")).as("n"))
    val devs = full.crossJoin(broadcast(tot))
      .select((lit(168L) * col("obs") - col("n")).as("dev"))
      .agg(sum(col("dev") * col("dev")).as("devsq"))
    full.crossJoin(broadcast(tot)).crossJoin(broadcast(devs))
      .select(col("dow"), col("hr"), col("obs"),
        round(lit(1e6) * col("devsq").cast("double") /
          (lit(168.0) * col("n").cast("double"))).cast("long")
          .as("chi2_micros"))
  }

  /** Weekly user-lifecycle transition counts — new / retained /
    * resurrected / churned / dormant per calendar week, the growth-
    * accounting table every retention dashboard is built on. A user's
    * state in week w: `new` in their first active week, `retained` if
    * active now and last week, `resurrected` if active after a gap,
    * `churned` the first week inactive after an active one, `dormant`
    * otherwise.
    *
    * Scale shape: one distinct (user, week) aggregation; the
    * user×week grid materializes only from each user's FIRST week on
    * (a broadcast of the ≤#weeks list, not a full cross product over
    * time); the state machine is one lag window on the grid's
    * user partitioning. Counts are exact; weeks emit as date strings
    * (timezone-free, the ev2 convention). */
  def lifecycle(s: SparkSession, dir: String): DataFrame =
    lifecycleFrom(Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
      .localCheckpoint(true)) // feeds first-week, week span, flag join

  /** [[lifecycle]] over an already-distinct (user_id, wk) activity
    * frame — exposed so the corpus-gap semantics (an inactive calendar
    * week between active ones) are testable; the fixture's events span
    * has no such gap. */
  private[operators] def lifecycleFrom(active: DataFrame): DataFrame = {
    // COMPLETE calendar axis min..max week — deriving weeks from
    // observed activity alone skips a corpus-wide inactive week, which
    // shifts the per-user lag across the gap and mislabels the states
    // around it (a returning user would read 'retained' instead of
    // 'resurrected', and the 'churned' week would never materialize)
    val weeks = active.agg(min(col("wk")).as("w0"), max(col("wk")).as("w1"))
      .select(explode(expr("sequence(w0, w1, interval 7 day)")).as("wk"))
    val first = active.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
    val grid = first.join(broadcast(weeks), col("wk") >= col("first_wk"))
    val st = grid
      .join(active.withColumn("act", lit(1L)), Seq("user_id", "wk"), "left")
      .select(col("user_id"), col("wk"), col("first_wk"),
        coalesce(col("act"), lit(0L)).as("act"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val prevAct = lag(col("act"), 1).over(w)
    st.withColumn("state",
        when(col("wk") === col("first_wk"), "new")
          .when(col("act") === 1L && prevAct === 1L, "retained")
          .when(col("act") === 1L, "resurrected")
          .when(prevAct === 1L, "churned")
          .otherwise("dormant"))
      .groupBy(date_format(col("wk"), "yyyy-MM-dd").as("week"), col("state"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** CUSUM change-point scan over the daily series: Sₜ = max(0,
    * Sₜ₋₁ + devₜ) with integer-scaled deviations devₜ = n·xₜ − Σx (the
    * mean never materializes as a fraction) — the standard
    * drift-onset detector; the peak day flags where the level shift
    * concentrates.
    *
    * Scale shape: the data-sized stage is the shared dailyCounts
    * aggregation; the inherently-sequential recursion runs on the
    * collected ≤ #days model (the mmrSelect convention — model-sized
    * collects only, never data). Every step is exact integer
    * arithmetic; the DuckDB oracle replays the recursion as a
    * recursive CTE bit-for-bit. */
  def cusum(s: SparkSession, dir: String): DataFrame = {
    // dates collect as ISO strings: a DateType row can't decode off the
    // checkpointed frame (EXPRESSION_DECODING_FAILED), and the output
    // emits strings anyway
    val rows = dailyCounts(s, dir)
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"))
      .orderBy(col("d")).collect()
    import s.implicits._
    if (rows.isEmpty) // empty table degrades to an empty frame, not
      return Seq.empty[(String, Long, Long, Long)] // empty.max crash
        .toDF("d", "x", "cusum", "is_peak")
    val n = rows.length.toLong
    val sx = rows.map(_.getLong(1)).sum
    var acc = 0L
    val out = rows.map { r =>
      acc = math.max(0L, acc + n * r.getLong(1) - sx)
      (r.getString(0), r.getLong(1), acc)
    }.toSeq
    val mx = out.map(_._3).max
    out.toDF("d", "x", "cusum")
      .withColumn("is_peak", (col("cusum") === lit(mx)).cast("long"))
  }

  /** Inter-event gap distribution per event type: for each user's
    * consecutive events OF THAT TYPE, the gap in seconds — then p50 /
    * p90 / max per type. The arrival-process profile that separates
    * organic traffic (heavy-tailed gaps) from scripted traffic
    * (metronome gaps).
    *
    * Scale shape: one shuffle partitions (user, type) streams for the
    * lag; the percentile aggregation reuses the exact-sort form
    * (stat1's contract — at 100 TB swap in percentile_approx partials,
    * same plan otherwise). Gap micros are exact longs; the two
    * interpolated quantiles and the /1e6 rescale are the only IEEE
    * ops, 4dp-rounded like stat1. */
  def interEventGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)") / 1e6, 4).as("p50_s"),
        round(expr("percentile(gap_us, 0.9)") / 1e6, 4).as("p90_s"),
        round(max(col("gap_us")).cast("double") / 1e6, 4).as("max_s"))
  }

  /** Classical seasonal-trend decomposition of the daily event-count
    * series (the moving-average STL ancestor): trend = centered 7-day
    * mean (partial windows at the edges), seasonal = day-of-week mean
    * of the detrended series, residual = the rest — the
    * anomaly-vs-seasonality separation [[seasonality]]'s χ² only
    * scores in aggregate.
    *
    * Scale shape: the data-sized stage is the shared dailyCounts
    * aggregation; the decomposition is two windows + one 7-row
    * aggregate over the ≤ #days frame. Determinism: day-of-week is
    * epoch-day mod 7 (engine-independent — the builtin dow functions
    * disagree on 0- vs 1-based Sunday); every window numerator is an
    * exact integer sum and each mean is one IEEE divide on exact
    * longs, micro-rounded before the next stage reads it. */
  def stlDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(s, dir)
    val wTrend = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val detrended = daily
      .withColumn("trend_micros",
        round(lit(1e6) * sum(col("x")).over(wTrend).cast("double") /
          count(lit(1)).over(wTrend).cast("double")).cast("long"))
      .withColumn("detr_micros", col("x") * 1000000L - col("trend_micros"))
      .withColumn("dow",
        pmod(datediff(col("d"), lit("1970-01-01").cast("date")), lit(7))
          .cast("long"))
      .localCheckpoint(true) // feeds the dow means and the final join
    val seasonal = detrended.groupBy(col("dow"))
      .agg(round(sum(col("detr_micros")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("seasonal_micros"))
    detrended.join(broadcast(seasonal), Seq("dow"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"),
        col("trend_micros"), col("seasonal_micros"),
        (col("detr_micros") - col("seasonal_micros")).as("residual_micros"))
  }

  /** `ts14_seasonal_strength` — Hyndman's seasonal- and
    * trend-strength measures over [[stlDecompose]]'s components:
    * F_s = max(0, 1 − Var(R)/Var(S+R)) and
    * F_t = max(0, 1 − Var(R)/Var(T+R)) — the one-number answers to
    * "is there a season worth modeling" and "is there a trend worth
    * modeling" that decide whether ts7/ts8/ts10 are even applicable.
    * All components are the STL face's exact integer micros;
    * variances come from exact (Σv, Σv², n) population sums and the
    * two strengths are single mirrored double trees, micro-quantized.
    *
    * Scale shape: the data-sized stage is the shared dailyCounts
    * aggregation inside the STL face; the strengths fold the ≤ #days
    * component frame into ONE row. */
  def ts14SeasonalStrength(s: SparkSession, dir: String): DataFrame = {
    val c = stlDecompose(s, dir)
      .select(col("residual_micros").as("r"),
        (col("seasonal_micros") + col("residual_micros")).as("sr"),
        (col("trend_micros") + col("residual_micros")).as("tr"))
    val m = c.agg(count(lit(1)).as("n"),
      sum(col("r")).as("s1r"),
      sum(col("r").cast("decimal(38,0)") * col("r")).as("s2r"),
      sum(col("sr")).as("s1s"),
      sum(col("sr").cast("decimal(38,0)") * col("sr")).as("s2s"),
      sum(col("tr")).as("s1t"),
      sum(col("tr").cast("decimal(38,0)") * col("tr")).as("s2t"))
    val nD = col("n").cast("double")
    def popVar(s2: String, s1: String): Column =
      col(s2).cast("double") / nD -
        (col(s1).cast("double") / nD) * (col(s1).cast("double") / nD)
    m.select(col("n").as("n_days"),
      round(lit(1e6) * greatest(lit(0.0),
        lit(1.0) - popVar("s2r", "s1r") / popVar("s2s", "s1s")))
        .cast("long").as("fs_micros"),
      round(lit(1e6) * greatest(lit(0.0),
        lit(1.0) - popVar("s2r", "s1r") / popVar("s2t", "s1t")))
        .cast("long").as("ft_micros"))
  }

  /** Per-user event-type entropy — the behavioral-diversity score
    * separating single-action accounts (H = 0: pure scripted traffic,
    * or a user who only ever views) from organically mixed activity;
    * the per-entity face of [[TextAnalysis]]'s corpus-level entropy.
    *
    * Scale shape: one (user, type) aggregation (map-side combined);
    * totals fold over the same frame via a user-partitioned window —
    * bounded by |users|·|types|, no second events scan. Determinism:
    * counts are exact longs; each plogp term micro-rounds before the
    * per-user sum (the PSI/MI convention). */
  def userEntropy(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val wU = Window.partitionBy(col("user_id"))
    cells
      .withColumn("n", sum(col("c")).over(wU))
      .withColumn("k", count(lit(1)).over(wU))
      .withColumn("term_micronats",
        round(lit(-1e6) * (col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("n"))).cast("long"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        max(col("k")).as("n_types"),
        sum(col("term_micronats")).as("entropy_micronats"))
  }

  /** Cohort retention matrix — the growth-analytics triangle: users
    * grouped by first-active week, each cohort's share still active at
    * every later week offset. [[lifecycle]] labels week-over-week
    * TRANSITIONS; this tracks each cohort's survival CURVE — the two
    * views a retention review reads side by side.
    *
    * Scale shape: one distinct (user, week) aggregation, a user-keyed
    * join to the cohort label (both sides hash-partitioned on
    * user_id), then a (cohort, offset)-keyed count — all map-side
    * combinable; the cohort-size join exchanges ≤ #weeks rows.
    * Determinism: offsets are exact integer floor-divisions of day
    * differences; the single percentage divide runs on exact longs,
    * micro-rounded. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
      .localCheckpoint(true) // feeds the cohort label and the matrix
    val first = active.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort"))
    val cells = active.join(first, Seq("user_id"))
      .select(col("cohort"),
        (datediff(to_date(col("wk")), to_date(col("cohort"))) / 7)
          .cast("long").as("offset"))
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("offset") === 0L)
      .select(col("cohort"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("offset"), col("n_active"), col("cohort_size"),
        round(lit(1e6) * col("n_active").cast("double") /
          col("cohort_size").cast("double")).cast("long")
          .as("retained_micros"))
  }

  /** Holt double-exponential (level + trend) smoothing of the daily
    * event-count series plus a 7-day-ahead forecast — the one-rung-up
    * from [[ewmaSpikes]]' level-only EWMA that a capacity planner
    * actually projects with. α = 1/2, β = 1/4 as exact rational
    * integer updates: lₜ = (xₜ·1e6 + lₜ₋₁ + bₜ₋₁) div 2,
    * bₜ = (3·bₜ₋₁ + (lₜ − lₜ₋₁)) div 4, seeded l₁ = x₁·1e6,
    * b₁ = x₂·1e6 − x₁·1e6 — every state transition is integer
    * arithmetic (div truncates toward zero in Spark, Scala AND DuckDB
    * `//`, verified on negatives), so the whole trajectory is
    * engine-exact with zero float ops.
    *
    * Scale shape: the data-sized stage is the shared dailyCounts
    * aggregation; the inherently-sequential recursion runs on the
    * collected ≤ #days model (the cusum convention) and the oracle
    * replays it as a recursive CTE bit-for-bit. */
  def holt(s: SparkSession, dir: String, horizon: Int = 7): DataFrame = {
    val rows = dailyCounts(s, dir)
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"))
      .orderBy(col("d")).collect()
    if (rows.isEmpty) { // empty table degrades to an empty frame, not
      import s.implicits._ // an out.last crash on the driver
      return Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("d", "x", "level_micros", "trend_micros",
          "forecast_h7_micros")
    }
    var l = 0L
    var b = 0L
    val out = rows.zipWithIndex.map { case (r, i) =>
      val xm = r.getLong(1) * 1000000L
      if (i == 0) {
        l = xm
        b = if (rows.length > 1) rows(1).getLong(1) * 1000000L - xm else 0L
      } else {
        val lPrev = l
        l = (xm + lPrev + b) / 2L
        b = (3L * b + (l - lPrev)) / 4L
      }
      (r.getString(0), r.getLong(1), l, b)
    }.toSeq
    import s.implicits._
    out.toDF("d", "x", "level_micros", "trend_micros")
      .withColumn("forecast_h7_micros",
        lit(out.last._3 + horizon * out.last._4))
  }

  /** `ts10_holt_winters` — additive Holt–Winters (triple exponential
    * smoothing) on the daily event count: [[holt]]'s level+trend
    * recursion extended with a period-`season` seasonal component,
    * the model that actually fits traffic data (ev14 shows the
    * day-of-week effect is real; Holt alone chases it as trend
    * error). Dyadic smoothing weights (α = ½, β = γ = ¼) keep every
    * update an exact integer expression in micro space — truncated
    * division matches between engines (verified on negative
    * operands, which seasonals hit constantly):
    *
    *   l_t = (x_t − s_{t−m} + l_{t−1} + b_{t−1}) / 2
    *   b_t = (3·b_{t−1} + (l_t − l_{t−1})) / 4
    *   s_t = (3·s_{t−m} + (x_t − l_t)) / 4
    *
    * Init: l = mean of week 1, b = (mean week 2 − mean week 1)/m,
    * s_i = x_i − l for the first week. Emits rows from day m+1 with
    * the h = 7 forecast l_n + 7·b_n + s_n alongside (the seasonal
    * index 7 days out is day n's own). Needs ≥ 2m days — degrades to
    * an empty frame below that, like [[holt]]'s empty-corpus guard.
    *
    * Scale shape: identical to ts7 — the series is calendar-bounded
    * (one map-side-combinable date rollup, ≤ #days rows collected),
    * so the sequential recursion runs on the driver over a frame
    * that CANNOT grow with corpus size; the 100 TB cost is the
    * rollup, not the loop. */
  def holtWinters(s: SparkSession, dir: String, season: Int = 7,
                  horizon: Int = 7): DataFrame = {
    val rows = dailyCounts(s, dir)
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"))
      .orderBy(col("d")).collect()
    import s.implicits._
    if (rows.length < 2 * season)
      return Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("d", "x", "level_micros", "trend_micros",
          "seasonal_micros", "forecast_h7_micros")
    val xs = rows.map(_.getLong(1) * 1000000L)
    val sum1 = xs.take(season).sum
    val sum2 = xs.slice(season, 2 * season).sum
    var l = sum1 / season
    var b = (sum2 - sum1) / (season.toLong * season)
    val sbuf = scala.collection.mutable.Queue(
      xs.take(season).map(_ - l): _*)
    val out = (season until rows.length).map { t =>
      val xm = xs(t)
      val sm = sbuf.dequeue()
      val lPrev = l
      l = (xm - sm + l + b) / 2
      b = (3 * b + (l - lPrev)) / 4
      val sNew = (3 * sm + (xm - l)) / 4
      sbuf.enqueue(sNew)
      (rows(t).getString(0), rows(t).getLong(1), l, b, sNew)
    }
    val fc = out.last._3 + horizon * out.last._4 + sbuf.last
    out.toDF("d", "x", "level_micros", "trend_micros",
        "seasonal_micros")
      .withColumn("forecast_h7_micros", lit(fc))
  }

  /** `ev27_cuped` — CUPED variance reduction (Deng et al. 2013), the
    * experimentation-platform primitive: adjust each user's
    * experiment-period metric Y by their PRE-period covariate X,
    * Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), and the metric
    * variance drops by exactly ρ² — which means an A/B test needs
    * (1−ρ²)× the sample for the same power. Here X = first-half-of-
    * month purchase cents per user, Y = second-half cents; the
    * adjusted variance comes from the ANALYTIC identity var(Y') =
    * var(Y) − cov²/var(X), so ONE pass of exact sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy² — integer cents, the stat29
    * convention) yields θ, both variances, and the reduction; no
    * second adjusted-data pass exists to drift.
    *
    * Scale shape: one user-keyed aggregation over events (map-side
    * combined), one 1-row moment rollup; Σxy and the squares
    * accumulate in DECIMAL(38,0) (the eval10 convention) so user
    * counts at any SF cannot overflow the cross-moments. */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val perUser = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15,
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("x"),
        sum(when(dayofmonth(col("ts")) > 15,
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("y"))
    val m = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    m.select(col("n"),
        (col("sxy").cast("double") - col("sx").cast("double") *
          col("sy").cast("double") / col("n").cast("double"))
          .as("covxy"),
        (col("sxx").cast("double") - col("sx").cast("double") *
          col("sx").cast("double") / col("n").cast("double"))
          .as("varx"),
        (col("syy").cast("double") - col("sy").cast("double") *
          col("sy").cast("double") / col("n").cast("double"))
          .as("vary"))
      .select(col("n"),
        round(lit(1e6) * col("covxy") / col("varx")).cast("long")
          .as("theta_micros"),
        round(col("vary") / col("n").cast("double"), 2)
          .as("var_y_cents2"),
        round((col("vary") - col("covxy") * col("covxy") /
          col("varx")) / col("n").cast("double"), 2)
          .as("var_adj_cents2"),
        round(lit(1e6) * col("covxy") * col("covxy") /
          (col("varx") * col("vary"))).cast("long")
          .as("reduction_micros"))
  }

  /** `ev28_ltv` — cohort lifetime-value curve: [[retention]]'s weekly
    * cohort grid with MONEY in the cells instead of presence — per
    * (signup-week cohort, week offset), the cohort's purchase cents
    * that week and the running cumulative LTV per cohort user. This
    * is the growth-finance readout retention can't give: two cohorts
    * with identical retention can pay back acquisition at very
    * different speeds, and the payback week IS this curve crossing
    * the CAC line.
    *
    * Cohort = week of the user's first event of any type (ev18's
    * definition, shared deliberately so the two grids join); users
    * who never purchase still hold down the denominator — dropping
    * them is the LTV twin of the RFM win-back bug. Weeks where a
    * cohort spent nothing emit no row; the cumulative at the next
    * present row is unchanged (adding zero), so the curve stays
    * exact.
    *
    * Scale shape: one distinct (user, week) rollup for cohorts, one
    * purchase rollup, a user-keyed join, then windows over the
    * cohort × offset grid — calendar-bounded cells. Exact integer
    * cents until the one quantized per-user divide. */
  def ltvCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir)
    val first0 = e.select(col("user_id"),
        date_trunc("week", col("ts")).as("wk"))
      .groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      .localCheckpoint(true) // cohort sizes AND the purchase join
    val sizes = first0.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    val cells = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(first0, "user_id")
      .groupBy(col("cohort"),
        (datediff(col("wk").cast("date"), col("cohort").cast("date"))
          / 7).cast("long").as("off"))
      .agg(sum(col("cents")).as("spend_cents"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("off"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_cents", sum(col("spend_cents")).over(wCum))
      .join(broadcast(sizes), "cohort")
      .select(date_format(col("cohort"), "yyyy-MM-dd")
          .as("cohort_week"),
        col("off").as("week_offset"), col("spend_cents"),
        col("cohort_size"),
        round(lit(1e6) * col("cum_cents").cast("double") /
          col("cohort_size").cast("double")).cast("long")
          .as("cum_ltv_microcents"))
  }

  /** `ts11_yule_walker` — AR(2) fit via the Yule-Walker equations
    * over the daily order-revenue series (stat30's calendar-bounded
    * fixture), plus the one-step forecast: the autoregressive
    * counterpart of [[holtWinters]]' smoothing family — HW carries
    * level/trend/season STATE, an AR model explains today by the last
    * two days directly, and Yule-Walker is the closed-form moment
    * solve φ = R⁻¹r (the first two Levinson-Durbin steps). In
    * sufficient-statistic form with lagged-product sums S₀ S₁ S₂:
    * φ₁ = S₁(S₀−S₂)/(S₀²−S₁²), φ₂ = (S₂S₀−S₁²)/(S₀²−S₁²), and
    * x̂ₙ₊₁ = μ + φ₁(xₙ−μ) + φ₂(xₙ₋₁−μ).
    *
    * Determinism: the series is exact integer dollars; μ is the one
    * shared double; every lagged product (x_t−μ)(x_{t−k}−μ) is
    * rounded to a long BEFORE its sum (the house quantize-then-sum
    * rule), and the sums accumulate in DECIMAL(38,0) so a 10×-daily-
    * volume corpus cannot overflow them. Scale shape: one map-side-
    * combined date rollup, then lag windows over the ≤365-row series
    * — bounded by the calendar, not the corpus (the stat30/ts9
    * argument). */
  def yuleWalkerAr2(s: SparkSession, dir: String,
                    yr: Int = 1995): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(round(col("o_totalprice")).cast("long")).as("y"))
    val stats = broadcast(daily.agg(count(lit(1)).as("n"),
      sum(col("y")).as("sy")))
    val w = Window.orderBy(col("day"))
    val d2 = daily.crossJoin(stats)
      .withColumn("mu", col("sy").cast("double") / col("n").cast("double"))
      .withColumn("l1", lag(col("y"), 1).over(w))
      .withColumn("l2", lag(col("y"), 2).over(w))
      .withColumn("t", row_number().over(w))
    def dev(c: Column): Column = c.cast("double") - col("mu")
    val m = d2.groupBy(col("n"), col("sy")).agg(
      sum(round(dev(col("y")) * dev(col("y")))
        .cast("decimal(38,0)")).as("s0"),
      sum(round(dev(col("y")) * dev(col("l1")))
        .cast("decimal(38,0)")).as("s1"),
      sum(round(dev(col("y")) * dev(col("l2")))
        .cast("decimal(38,0)")).as("s2"),
      max_by(col("y"), col("t")).as("yn"),
      max_by(col("l1"), col("t")).as("yn1"))
    val muA = col("sy").cast("double") / col("n").cast("double")
    val s0d = col("s0").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val den = s0d * s0d - s1d * s1d
    val phi1 = s1d * (s0d - s2d) / den
    val phi2 = (s2d * s0d - s1d * s1d) / den
    m.select(col("n"),
      round(lit(1e6) * phi1).cast("long").as("phi1_micros"),
      round(lit(1e6) * phi2).cast("long").as("phi2_micros"),
      round(muA + phi1 * (col("yn").cast("double") - muA) +
        phi2 * (col("yn1").cast("double") - muA)).cast("long")
        .as("forecast_dollars"))
  }

  /** `ev29_did` — difference-in-differences, the quasi-experimental
    * sibling of [[cuped]]'s variance reduction (CUPED sharpens a
    * randomized test; DiD estimates a treatment effect when you only
    * have pre/post observational cells): users carry an md5-
    * derandomized treatment flag (the priv7 coin device — both
    * engines derive the identical assignment through the md5-60
    * bridge), outcome = purchase cents in the pre (day ≤ 15) vs post
    * (day > 15) half of the month (cuped's split, shared
    * deliberately), and the estimator is (T̄post − T̄pre) −
    * (C̄post − C̄pre) — the parallel-trends subtraction that removes
    * both the group baseline gap and the common time trend. The
    * population is ALL users (any event type): never-purchasers hold
    * the denominator with zero cells — dropping them is the RFM
    * win-back bug wearing a causal hat.
    *
    * Determinism: per-cell means are micro-quantized BEFORE the DiD
    * subtraction, so the final estimate is pure integer arithmetic on
    * values both engines already agree on. Scale shape: one user-keyed
    * aggregation over events (map-side combined), one 2-row cell
    * rollup, one 1-row pivot — nothing after the first shuffle scales
    * with the corpus. */
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val cents = round(col("value") * 100).cast("long")
    val perUser = e.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase" &&
          dayofmonth(col("ts")) <= 15, cents).otherwise(0L)).as("pre"),
        sum(when(col("event_type") === "purchase" &&
          dayofmonth(col("ts")) > 15, cents).otherwise(0L)).as("post"))
      .withColumn("treat", pmod(md5Base60(
        concat(lit("did:"), col("user_id"))), lit(2L)))
    val cells = perUser.groupBy(col("treat"))
      .agg(count(lit(1)).as("n"), sum(col("pre")).as("spre"),
        sum(col("post")).as("spost"))
      .select(col("treat"), col("n"),
        round(lit(1e6) * col("spre").cast("double") /
          col("n").cast("double")).cast("long").as("m_pre"),
        round(lit(1e6) * col("spost").cast("double") /
          col("n").cast("double")).cast("long").as("m_post"))
    cells.agg(
        sum(when(col("treat") === 1L, col("n"))).as("n_treat"),
        sum(when(col("treat") === 0L, col("n"))).as("n_ctrl"),
        sum(when(col("treat") === 1L, col("m_pre")))
          .as("treat_pre_microcents"),
        sum(when(col("treat") === 1L, col("m_post")))
          .as("treat_post_microcents"),
        sum(when(col("treat") === 0L, col("m_pre")))
          .as("ctrl_pre_microcents"),
        sum(when(col("treat") === 0L, col("m_post")))
          .as("ctrl_post_microcents"))
      .withColumn("did_microcents",
        (col("treat_post_microcents") - col("treat_pre_microcents")) -
          (col("ctrl_post_microcents") - col("ctrl_pre_microcents")))
  }

  /** RFM cell-grid rollup — the SEGMENT-level view beside
    * [[rfmScores]]' per-user scores (ev5 answers "what is this user's
    * RFM?", this answers "how big and how valuable is each segment?"
    * — the marketing-planning cut): recency = days since the user's
    * last event of ANY type (vs the corpus max day), frequency =
    * purchase count, monetary = purchase value in exact cents; each
    * dimension quintiled and the base profiled per (r, f, m) cell.
    * Unlike ev5's purchase-filtered frame, users who never purchased
    * stay in the grid with f = m = 0 (they ARE the win-back segment,
    * dropping them is the classic RFM bug).
    *
    * Scale shape: one user-keyed aggregation over events (map-side
    * combined), then three ntile windows + the cell rollup over the
    * USER-cardinality frame — the global sort each ntile needs is on
    * user-count rows, not events (at 100 TB of events the user frame
    * is the small one; if users themselves outgrow a sort, swap ntile
    * for percentile_approx rank cuts — same grid, approximate
    * boundaries). Determinism: cents are exact longs; every ntile
    * order carries user_id as the final tiebreak, and Spark and DuckDB
    * share the ceil-first ntile remainder rule. */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    // ONE events scan: the corpus max day is max(last_day) over the
    // per-user aggregate (every event belongs to a user), so the
    // recency anchor re-aggregates the checkpointed user-cardinality
    // frame instead of scanning events a second time
    val perUserRaw = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("frequency"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("monetary_cents"))
      .localCheckpoint(true)
    val perUser = perUserRaw
      .crossJoin(broadcast(perUserRaw.agg(max(col("last_day")).as("max_day"))))
      .select(col("user_id"),
        datediff(col("max_day"), col("last_day")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary_cents"))
      // withGlobalRank executes its input per call (size probe + rank
      // plan), and the three quintile passes NEST — each checkpoints
      // here so a pass re-reads the previous pass's materialized
      // user-cardinality rows instead of re-running every earlier rank
      // plan plus the crossJoin (up to ~6-9 lineage executions when
      // left lazy — the rfmRank/pipe2 calling convention)
      .localCheckpoint(true)
    // quintiles over the entity frame via the scalable exact rank
    // (Ranking.withGlobalRank + closed-form ntile — no
    // single-partition window; bit-identical, user_id tie-broken)
    def quintile(d: DataFrame, name: String,
                 ord: org.apache.spark.sql.Column*) =
      Ranking.withGlobalRank(d, "__rn", "__n", ord)
        .withColumn(name, Ranking.ntileOfRank(col("__rn"), col("__n"), 5))
        .drop("__rn", "__n")
        .localCheckpoint(true)
    quintile(
      quintile(
        quintile(perUser, "r_q",
          col("recency_days").asc, col("user_id").asc),
        "f_q", col("frequency").desc, col("user_id").asc),
      "m_q", col("monetary_cents").desc, col("user_id").asc)
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary_cents")).as("cell_monetary_cents"))
  }

  /** `ts9_snaive` — the seasonal-naive backtest + MASE readout every
    * forecasting pipeline runs BEFORE fitting anything (Hyndman &
    * Koehler 2006): forecast each day's event count with the value
    * seven days back (one weekly season), score it with MAE, and
    * normalize by the one-step-naive MAE — MASE < 1e6 micros means
    * the weekly pattern genuinely predicts beyond mere persistence,
    * and it is the scale-free yardstick later models (ts7's Holt,
    * ts8's STL) must beat.
    *
    * Scale shape: the data-sized stage is the shared dailyCounts
    * aggregation; both error columns are row-lags over the ≤ #days
    * frame. Determinism: absolute errors are exact integer counts;
    * the two means and their ratio are single IEEE expressions on the
    * exact sums, micro-rounded. */
  def snaiveBacktest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("d")) // model-sized frame (≤ #days rows)
    dailyCounts(s, dir)
      .withColumn("e7", abs(col("x") - lag(col("x"), 7).over(w)))
      .withColumn("e1", abs(col("x") - lag(col("x"), 1).over(w)))
      .agg(count(lit(1)).as("n_days"),
        count(col("e7")).as("n_scored"),
        sum(col("e7")).as("sum_e7"),
        count(col("e1")).as("n_naive"),
        sum(col("e1")).as("sum_e1"))
      .select(col("n_days"), col("n_scored"),
        round(lit(1e6) * col("sum_e7").cast("double") /
          col("n_scored").cast("double")).cast("long")
          .as("mae_snaive_micros"),
        round(lit(1e6) * col("sum_e1").cast("double") /
          col("n_naive").cast("double")).cast("long")
          .as("mae_naive_micros"),
        round(lit(1e6) * (col("sum_e7").cast("double") /
          col("n_scored").cast("double")) /
          (col("sum_e1").cast("double") / col("n_naive").cast("double")))
          .cast("long").as("mase_micros"))
  }

  /** `ts12_changepoint` — single-changepoint detection on the daily
    * event-count series by exact binary segmentation: the split t
    * maximizing the between-segment SSE reduction
    * (S₁n₂ − S₂n₁)²/(n·n₁·n₂), i.e. the first step of PELT/BinSeg.
    * The score is compared as the EXACT integer floor
    * D²·10⁶ div (n₁·n₂) (n constant across splits, dropped; BigInt
    * driver-side, HUGEINT in the oracle) so the argmax — and the
    * day it flags — is engine-independent by construction, not by
    * fp luck; ties break to the earlier day. Segment means are exact
    * integer-floor micros. The level-shift LOCATOR beside ts6's
    * CUSUM drift detector (CUSUM says "a shift exists"; this says
    * "here, and by how much").
    *
    * Scale shape: the data-sized stage is the shared dailyCounts
    * aggregation; the split scan is driver-side over the collected
    * ≤ #days model (the cusum/mmr convention — model-sized collects
    * only, never data). */
  def ts12Changepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = dailyCounts(s, dir)
      .select(date_format(col("d"), "yyyy-MM-dd").as("d"), col("x"))
      .orderBy(col("d")).collect()
    if (rows.length < 2) // one day → no split exists
      return Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("split_day", "n1", "n2", "mean1_micros", "mean2_micros",
          "score")
    val xs = rows.map(_.getLong(1))
    val n = xs.length
    val sTot = xs.map(BigInt(_)).sum
    var (best, bestScore) = (-1, BigInt(-1))
    var s1 = BigInt(0)
    for (i <- 1 until n) { // split after day i-1: n1 = i
      s1 += xs(i - 1)
      val (n1, n2) = (BigInt(i), BigInt(n - i))
      val d = s1 * n2 - (sTot - s1) * n1
      val score = d * d * 1000000 / (n1 * n2)
      if (score > bestScore) { best = i; bestScore = score }
    }
    val s1b = xs.take(best).map(BigInt(_)).sum
    Seq((rows(best - 1).getString(0), best.toLong, (n - best).toLong,
      (s1b * 1000000 / best).toLong,
      ((sTot - s1b) * 1000000 / (n - best)).toLong,
      (bestScore / 1000000).toLong)) // de-scale: argmax ran ×10⁶ finer
      .toDF("split_day", "n1", "n2", "mean1_micros", "mean2_micros",
        "score")
  }

  /** `ev30_power_mde` — A/B experiment power analysis per event type:
    * with the observed variance of per-event `value` (exact cents
    * sufficient statistics) and a 50/50 split of the observed volume,
    * the minimum detectable effect at α=0.05 two-sided / 80% power is
    * MDE = (z_{0.975} + z_{0.8})·√(2s²/n_arm), reported relative to
    * the mean. The pre-registration face of the experimentation
    * family (ev22's CI and ev27's CUPED are post-hoc; this is the
    * "how long must the test run" number, and read beside ev27 it
    * quantifies how much CUPED shrinks the required run).
    *
    * Determinism: the z constants are literals, variance comes from
    * exact integer cents sums, and the single double expression tree
    * is mirrored in the oracle; micro-quantized outputs.
    *
    * Scale shape: one map-side-combinable groupBy(event_type) — three
    * power sums per type, a types-sized result. */
  def ev30PowerMde(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val m = Tables.events(s, dir)
      .select(col("event_type"), cents.as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val variance = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / nD) /
      (nD - lit(1.0))
    val nArm = expr("n DIV 2")
    // one parsed literal (z_{0.975}+z_{0.8}), never a compile-time sum
    // — a 1-ulp drift vs the oracle's parsed 2.801585 would leak into
    // the quantized output
    val mdeAbs = lit(2.801585) *
      sqrt(lit(2.0) * variance / nArm.cast("double"))
    // s1 > 0 guards the relative-MDE divide (a zero-value event type
    // has no mean to scale by)
    m.filter(col("n") >= 2L && col("s1") > 0L)
      .select(col("event_type"), col("n"),
      nArm.as("n_arm"),
      round(lit(100.0) * mean).cast("long").as("mean_centicents"),
      round(variance, 2).as("var_cents2"),
      round(lit(1e6) * (mdeAbs / mean)).cast("long")
        .as("mde_rel_micros"))
  }

  /** `ev31_did` — difference-in-differences over the event stream, the
    * causal-inference face beside ev22's intervals and ev30's power:
    * users split into treated (even id) and control, time splits at
    * the exact integer midpoint of the observed epoch-second range,
    * and the DiD estimate is (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post −
    * ȳ_C,pre) — the parallel-trends-adjusted effect an A/B readout
    * quotes when assignment isn't randomized over time. Emits the
    * four cells (n, exact cents sum, mean centicents) with the shared
    * DiD in micros on every row (the ev30 readout convention).
    *
    * Determinism: cell sums are exact integer cents; the midpoint is
    * an integer DIV; the DiD double tree divides four exact sums and
    * is mirrored in the oracle; micro-quantized.
    *
    * Scale shape: one broadcast 1-row range frame, one map-side-
    * combinable groupBy over 4 cells, one 1-row conditional pivot —
    * the ev30 shape with a time split riding along. */
  def ev31Did(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      (col("user_id") % 2 === 0).cast("long").as("treated"),
      col("ts").cast("long").as("sec"),
      round(col("value") * 100).cast("long").as("cents"))
    val rng = broadcast(e.agg(min(col("sec")).as("lo"),
      max(col("sec")).as("hi"))
      .select(expr("(lo + hi) DIV 2").as("mid")))
    val cells = e.crossJoin(rng)
      .select(col("treated"),
        (col("sec") >= col("mid")).cast("long").as("post"), col("cents"))
      .groupBy(col("treated"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    def m(t: Int, p: Int) =
      max(when(col("treated") === t && col("post") === p,
        col("s").cast("double") / col("n").cast("double")))
    val did = broadcast(cells.agg(
      round(lit(1e6) * ((m(1, 1) - m(1, 0)) - (m(0, 1) - m(0, 0))))
        .cast("long").as("did_micros")))
    cells.crossJoin(did)
      .select(col("treated"), col("post"), col("n"),
        col("s").as("sum_cents"),
        round(lit(100.0) * col("s").cast("double") /
          col("n").cast("double")).cast("long").as("mean_centicents"),
        col("did_micros"))
  }

  /** `ts13_ljung_box` — the Ljung–Box portmanteau white-noise test on
    * the daily event-count series: Q = n(n+2)·Σ_{k≤7} ρ̂²ₖ/(n−k),
    * where each ρ̂ₖ is the SAME exact-integer autocorrelation
    * numerator/denominator as [[autocorr]] (dv = n·x − Σx devices, no
    * mean subtraction in fp). The gate a forecasting face (ts7/ts8/
    * ts10) runs FIRST: a series that fails to reject white noise has
    * nothing to model. Q and ρ̂₁ are micro-quantized single double
    * expressions over the exact sums, mirrored in the oracle.
    *
    * Scale shape: identical to ts3 — the data-sized stage is the
    * shared dailyCounts aggregation; seven lag columns over the
    * ≤ #days frame fold into ONE 1-row aggregate. */
  def ts13LjungBox(s: SparkSession, dir: String, maxLag: Int = 7)
      : DataFrame = {
    val daily = dailyCounts(s, dir)
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("d"), col("n"), (col("n") * col("x") - col("sx")).as("dv"))
    val w = Window.orderBy(col("d")) // model-sized frame (≤ #days rows)
    val lagged = dev.select(col("n") +: col("dv") +:
      (1 to maxLag).map(k => lag(col("dv"), k).over(w).as(s"l$k")): _*)
    val agg = lagged.groupBy(col("n")).agg(
      sum(col("dv") * col("dv")).as("den"),
      (1 to maxLag).map(k =>
        sum(col("dv") * col(s"l$k")).as(s"num$k")): _*)
    val nD = col("n").cast("double")
    val q = (1 to maxLag).map { k =>
      (col(s"num$k").cast("double") / col("den").cast("double")) *
        (col(s"num$k").cast("double") / col("den").cast("double")) /
        (nD - lit(k.toDouble))
    }.reduce(_ + _) * nD * (nD + lit(2.0))
    agg.select(col("n"),
      round(lit(1e6) * col("num1").cast("double") /
        col("den").cast("double")).cast("long").as("rho1_micros"),
      round(lit(1e6) * q).cast("long").as("q_micros"))
  }
}
