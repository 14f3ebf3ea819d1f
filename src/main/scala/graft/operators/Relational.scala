package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Relational core: aggregation, joins, windows, grouping sets, set ops,
  * date math. These generalize the reference's query surface
  * (openstreet_kolkata.py:596-655 — filter/group/sort/limit shapes) to the
  * full relational algebra a complete engine needs.
  *
  * Determinism for the DuckDB oracle: monetary aggregates run over
  * `decimal` so partial-aggregate ordering cannot perturb the result
  * (double addition is not associative; decimal addition is exact), then
  * cast back to double at the output boundary. Every top-k pins a total
  * order with a secondary key (SURVEY.md §2e — Mongo's `$sort` tie order
  * is unspecified, so we define one).
  */
object Relational {

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Flagship: TPC-H Q1-shaped pricing summary over lineitem.
    * Scan → Filter (pushed to parquet) → partial hash-agg (map-side
    * combine) → exchange on (returnflag, linestatus) → final hash-agg.
    * Group-key cardinality is tiny (≤ 6), so the shuffle moves only
    * per-partition partial rows — this plan holds at 100 TB.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("2001-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        // avg as exact-decimal-sum / count: double summation order is
        // engine-dependent, decimal summation is not
        round(sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1)), 2)
          .as("avg_price"),
        count(lit(1)).as("count_order"))
  }

  /** Multi-way star join: revenue per region. Dimension tables (region,
    * nation, customer) are explicitly `broadcast()` — at 100 TB the fact
    * tables shuffle once on the join key and every dim ships to executors,
    * never the reverse. orders⋈lineitem stays a shuffled hash/sort-merge
    * join on orderkey (both sides large).
    */
  def j1RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    val r  = Tables.region(s, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Left-semi join: customers that have at least one open order.
    * Semi joins never multiply rows — at scale this is the correct plan
    * for EXISTS (vs join+distinct which shuffles the multiplied rows).
    */
  def j2SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers who never placed a
    * high-value order. (Plain "no orders at all" is empty on the
    * synthetic data — every customer has orders.) */
  def j3AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Co-located join over bucketed tables — the physical-design answer
    * to the shuffle a big-big join otherwise pays. Both tables are
    * written bucketed (and sorted) by the join key into the same bucket
    * count, so at read time rows with equal keys are already in the
    * same bucket file and the join planner drops the Exchange on both
    * sides entirely (asserted in PlanSpec with broadcast disabled). At
    * 100 TB this is THE pattern for a fact table joined nightly on the
    * same key: pay the shuffle once at write, never at read.
    *
    * The bucketed copies are written once per (session, dataset) — an
    * ETL step, not a per-query cost — into /tmp-backed external tables;
    * re-runs reuse them via the catalog. */
  def j4BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // keyed on the full sanitized path (same as the j6 partitioned
    // sink) — abs(hashCode) risks cross-dir collisions and stays
    // negative for Int.MinValue
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val oTab = s"graft_bkt_orders_$tag"
    val lTab = s"graft_bkt_lineitem_$tag"
    if (!s.catalog.tableExists(oTab)) {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
        .write.mode("overwrite")
        .option("path", s"/tmp/graft_bkt/$tag/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oTab)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.mode("overwrite")
        .option("path", s"/tmp/graft_bkt/$tag/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lTab)
    }
    s.table(oTab).filter(col("o_orderstatus") === "F")
      .join(s.table(lTab), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q3-shaped shipping-priority query via the SQL face: the
    * ten still-unshipped order groups with the highest pending revenue
    * in one market segment. Selective dim filter (one segment of five)
    * broadcasts; ties broken by orderkey so the LIMIT set is engine-
    * independent; money stays DECIMAL until after the sort. */
  def sql2ShipPriority(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT o_orderkey,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
          AS DOUBLE) AS revenue,
        o_orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate, o_orderpriority
      ORDER BY sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) DESC,
        o_orderkey
      LIMIT 10""")
  }

  /** Window / top-N-per-group: each customer's single highest-value order.
    * `row_number` over (custkey → totalprice desc, orderkey asc) — the
    * orderkey tiebreak makes rank deterministic. One shuffle on custkey;
    * rank filter is evaluated streaming per partition, no second pass.
    */
  def w1TopOrderPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        dec(col("o_totalprice")).cast("double").as("top_price"))
  }

  /** The SAME top-order-per-customer result as w1, as an aggregation:
    * max_by over an ordering struct partial-aggregates map-side, so only
    * one (key, best) candidate per partition crosses the exchange — vs
    * the window form's full-table sort shuffle. At 100 TB that is
    * |customers| partial rows on the wire instead of |orders| sorted
    * rows; w1 stays the general tool when ranks > 1 are needed.
    * Ordering (price DESC, orderkey ASC) is encoded as max of
    * (price, -orderkey). Shares w1's oracle SQL. */
  def w1bTopOrderMaxBy(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(col("o_custkey"))
      .agg(max_by(
        struct(col("o_orderkey"),
          dec(col("o_totalprice")).cast("double").as("p")),
        struct(dec(col("o_totalprice")).as("price"),
          (-col("o_orderkey")).as("nk"))).as("top"))
      .select(col("o_custkey"), col("top.o_orderkey").as("o_orderkey"),
        col("top.p").as("top_price"))
  }

  /** The SQL entry point: the same flagship pricing summary through
    * `spark.sql` over a temp view — Catalyst compiles both forms to the
    * identical plan, demonstrating the engine's full SQL face. */
  def sql1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
          AS sum_disc_price,
        round(avg(l_quantity), 6) AS avg_qty,
        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          / count(*), 2) AS avg_price,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus""")
  }

  /** Salted join: the fact side carries a deterministic salt and the
    * dim side is replicated once per salt value, so a hot key's rows
    * spread over `salts` reducers instead of one. (At this dim size
    * Spark would broadcast and no salt would be needed — the query
    * demonstrates the key-explosion pattern used when the dim exceeds
    * broadcast and the fact key is skewed; AQE skew-join is the
    * runtime-automatic variant.) Results are salt-invariant, which the
    * plain-join oracle verifies. */
  def skew2SaltedJoin(s: SparkSession, dir: String,
                      salts: Int = 8): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("value"),
        pmod(col("event_id"), lit(salts)).as("salt"))
    val d = Tables.customer(s, dir).filter(col("c_custkey") <= 150)
      .select((col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    e.join(d, Seq("user_id", "salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }

  /** Range join: classify events into value tiers via a broadcast
    * inequality join. The small side is a 3-row bounds table, so the
    * plan is a BroadcastNestedLoopJoin — each fact row tests three
    * predicates locally, the fact side never shuffles. (Big-big range
    * joins bucket the range key instead; this is the dim-bounds face.)
    */
  def rj1ValueTiers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val tiers = s.createDataFrame(Seq(
      ("low", 0.0, 10.0), ("mid", 10.0, 100.0), ("high", 100.0, 1000.0)))
      .toDF("tier", "lo", "hi")
    e.join(broadcast(tiers),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }

  /** Running (cumulative) aggregate per supplier in ship order. The frame
    * is rows-unbounded-preceding over a pinned total order, so every
    * prefix sum is computed in the same sequence on any engine — exact.
    */
  def w2RunningSum(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    // l_quantity closes the tie-break: the synthetic corpus contains
    // duplicate (l_orderkey, l_linenumber) pairs, including full
    // (suppkey, shipdate, okey, lineno) tie GROUPS — caught by the
    // first sf1-scale oracle sweep, where a tie group with unequal
    // quantities makes the running-sum multiset depend on which peer
    // the engine scans first. With quantity in the order, any
    // remaining peers contribute identical increments, so the output
    // multiset is total-order-determined again.
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      sum(col("l_quantity")).over(w).as("running_qty"))
  }

  /** Range-frame window: rolling 30-day order revenue per customer.
    * The frame is value-based (RANGE over event time), so all peers of
    * a timestamp are included regardless of row order — deterministic
    * under any partitioning, and the frame Spark evaluates with a
    * sliding aggregate, not a per-row rescan. */
  def w4RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // o_orderdate reads as TIMESTAMP_NTZ, which has no direct long cast;
    // go through TIMESTAMP (session tz is pinned UTC) to epoch seconds
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-30L * 86400, 0)
    o.select(col("o_custkey"), col("o_orderkey"),
      sum(dec(col("o_totalprice"))).over(w).cast("double")
        .as("rolling_30d_revenue"))
  }

  /** Batch sessionization — the batch face of the streaming
    * transformWithState sessionizer (EventStreams.sessionize), and the
    * classic gaps-and-islands window composition: flag session starts
    * with lag + gap compare, number sessions with a running sum of the
    * flags, then aggregate per (user, session). Gap compares run on
    * exact integer microseconds (unix_micros) so sub-second timestamps
    * never straddle an engine-rounding boundary. Same session
    * definition as the streaming processor: a gap >= `gapMin` minutes
    * closes the session. */
  def w5Sessionize(s: SparkSession, dir: String,
                   gapMin: Int = 30): DataFrame =
    sessionizeEvents(
      Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id")),
      gapMin)

  /** DataFrame-level core of [[w5Sessionize]] (events: user_id, ts,
    * event_id) — also the batch oracle for the streaming sessionizer in
    * tests. */
  def sessionizeEvents(events: DataFrame, gapMin: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prevUs = lag(unix_micros(col("ts")), 1).over(byUser)
    val newSess = when(prevUs.isNull ||
      unix_micros(col("ts")) - prevUs >= gapMin * 60L * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("new_sess", newSess)
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_s"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("end_s"))
  }

  /** Lag/lead + gap math: days since the previous order per customer. */
  def w3LagLead(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.select(
      col("o_custkey"), col("o_orderkey"),
      datediff(col("o_orderdate"),
        lag(col("o_orderdate"), 1).over(w)).cast("long").as("days_since_prev"))
  }

  /** ROLLUP grouping sets over (returnflag, linestatus): per-group,
    * per-flag subtotal, and grand total in one pass. Spark expands the
    * grouping sets inside a single Expand + hash-agg — one shuffle.
    */
  def g1Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
  }

  /** CUBE over (event_type, bucketed user): all 4 grouping-set combos. */
  def g2Cube(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.withColumn("user_bucket", col("user_id") % 3)
      .cube(col("event_type"), col("user_bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Relational pivot via the dedicated `pivot()` operator (oq3 does
    * the same reshaping as hand-written conditional aggregates — this
    * is the declarative face). Pivot values are pinned explicitly:
    * Catalyst then plans a SINGLE aggregation pass with one conditional
    * agg per cell, no values-discovery pre-query and no second job —
    * exactly the oq3 plan, derived instead of hand-built. */
  def g3Pivot(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L)
  }

  /** Unpivot/melt — the inverse reshape: wide per-flag aggregate
    * columns back to (flag, metric, value) rows. Runs on the OUTPUT of
    * an aggregation (6 rows), so the variable-to-rows fan-out costs
    * nothing; at scale unpivot-before-aggregate is the layout for
    * metric stores where each metric is its own row key. */
  def g4Unpivot(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val wide = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).cast("double").as("n_items"),
        round(sum(dec(col("l_extendedprice"))).cast("double"), 2)
          .as("sum_price"))
    wide.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty").cast("double").as("sum_qty"),
          col("n_items"), col("sum_price")),
        "metric", "value")
  }

  /** Approximate quantiles with the sketch's deterministic rank-error
    * contract (GK summaries at accuracy a guarantee rank error
    * ≤ n/a — a hard bound, not probabilistic). The sketch VALUE depends
    * on merge order, so the portable, hash-stable output is the exact
    * quantile plus the verified flag that the sketch answer's rank
    * error sits inside the bound — same oracle pattern as the HLL
    * sketch (stat2). At 100 TB the sketch is the only quantile plan:
    * constant-size mergeable partials vs a full sort. */
  def stat4ApproxQuantiles(s: SparkSession, dir: String,
                           accuracy: Int = 100): DataFrame = {
    val e = Tables.events(s, dir)
    val sk = e.groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(accuracy))
          .as("approx_p50"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        count(lit(1)).as("n"))
    // rank of the approx answer, exactly: one broadcast join back
    val ranked = e.join(broadcast(sk), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("exact_p50")).as("exact_p50"),
        first(col("n")).as("n"),
        sum((col("value") <= col("approx_p50")).cast("long")).as("rank_approx"))
    ranked.select(col("event_type"),
      round(col("exact_p50"), 4).as("exact_p50"), col("n"),
      (abs(col("rank_approx") - col("n") / 2) <=
        col("n") / accuracy + 1).cast("long").as("rank_within_bound"))
  }

  /** Set operations: distinct click-users vs purchase-users — UNION /
    * INTERSECT / EXCEPT cardinalities derived from ONE membership
    * aggregation. The naive form (2 distincts + union-distinct +
    * intersect + except) costs ~6 exchanges over the fact table; this
    * plan is a single shuffle on user_id to per-user flags, then a
    * singleton reduce — union = c|p, intersect = c&p, except = c&!p.
    * Empty sets emit no row (matching set-op-with-GROUP-BY semantics).
    */
  def set1Ops(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val flags = e.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
    flags.agg(
        sum(when(col("c") === 1 || col("p") === 1, 1L).otherwise(0L)).as("u"),
        sum(when(col("c") === 1 && col("p") === 1, 1L).otherwise(0L)).as("i"),
        sum(when(col("c") === 1 && col("p") === 0, 1L).otherwise(0L)).as("x"))
      .select(explode(array(
        struct(lit("union").as("op"), col("u").as("n_users")),
        struct(lit("intersect").as("op"), col("i").as("n_users")),
        struct(lit("except").as("op"), col("x").as("n_users")))).as("r"))
      .select(col("r.op").as("op"), col("r.n_users").as("n_users"))
      .filter(col("n_users") > 0)
  }

  /** Date/math functions: monthly revenue with assorted scalar math.
    * Output months as strings (not raw timestamps) so the oracle compare
    * is timezone-free.
    */
  def d1MonthlyRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"),
        round(sqrt(count(lit(1)).cast("double")), 6).as("sqrt_n"),
        max(abs(dec(col("o_totalprice")) - lit(100000).cast(DecimalType(12, 2))))
          .cast("double").as("max_abs_dev"))
  }

  /** Tumbling event-time window aggregation (batch form of the streaming
    * query in graft.streaming): 1-hour windows, epoch-aligned — identical
    * semantics to `date_trunc('hour', ts)`.
    */
  def d2HourlyWindow(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Order statistics: exact interpolated percentiles per group (the
    * `percentile` aggregate sorts within the group — at scale prefer
    * `percentile_approx` sketches; the exact form is the oracle-checkable
    * face). */
  def stat1Percentiles(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(min(col("value")), 4).as("v_min"),
        round(max(col("value")), 4).as("v_max"),
        count(lit(1)).as("n"))
  }

  /** Sketch-based distinct counting: HyperLogLog (Spark's DataSketches
    * hll_sketch_agg) next to the exact count. Sketch bytes are
    * engine-specific, so the portable, oracle-checkable contract is the
    * sketch's own guarantee — the estimate lands within its error bound
    * (≤5% at lgK=12 with huge margin) — emitted as a flag the oracle
    * asserts true. At 100 TB the sketch is THE distinct-count plan:
    * constant-size partials that merge associatively, against the exact
    * form's full shuffle of the key space. */
  def stat2ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).cast("long").as("within_5pct"))
  }

  /** Sketch mergeability — the property that makes approximate distinct
    * counting distributed: per-type HLL sketches are built in one scan,
    * then the GLOBAL estimate comes from hll_union_agg over the sketch
    * rows alone, never re-touching events. At 100 TB this is how
    * per-partition / per-day sketches roll up to any coarser grain for
    * free. The oracle is a contract check: the merged estimate must
    * land within 5% of the exact global distinct (which union-merge
    * guarantees: HLL union is lossless over sketch registers).
    */
  def stat6SketchUnion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val perType = e.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val global = perType.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    val exact = e.agg(countDistinct(col("user_id")).as("n_exact"))
    global.crossJoin(exact)
      .select(lit("all_types").as("scope"), col("n_exact"),
        (abs(col("approx") - col("n_exact")).cast("double") /
          col("n_exact") <= 0.05).cast("long").as("within_5pct"))
  }

  /** Sketch-based audience-overlap matrix: for every event-type pair,
    * the distinct-user intersection estimated by HLL
    * inclusion–exclusion — |A∩B| ≈ est(A) + est(B) − est(A∪B), where
    * the union estimate MERGES the two per-type sketches
    * (hll_union) without re-touching events. This is how cross-segment
    * overlap runs at 100 TB: k constant-size sketches from one scan,
    * then all k² pair estimates from the k-row sketch frame alone.
    *
    * The portable contract (sketch bytes are engine-specific, as in
    * [[stat2ApproxDistinct]]): exact per-type and pair-intersection
    * counts, plus a flag that the sketch estimate lands within
    * 5%-of-union + 5 absolute of the exact overlap — wide enough for
    * inclusion–exclusion's compounded error, tight enough to catch a
    * broken merge. Exact side: one distinct (type, user) reduction,
    * self-joined per pair — the verification query, data-sized only in
    * the distinct reduction. */
  def stat21HllOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val perType = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        hll_sketch_agg(col("user_id")).as("sk"))
    val pairs = perType.select(col("event_type").as("type_a"),
        col("n_exact").as("n_a"), col("sk").as("sk_a"))
      .crossJoin(perType.select(col("event_type").as("type_b"),
        col("n_exact").as("n_b"), col("sk").as("sk_b")))
      .filter(col("type_a") < col("type_b"))
    val du = e.select(col("event_type"), col("user_id")).distinct()
    val overlap = du.select(col("event_type").as("type_a"), col("user_id"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_overlap"))
    pairs
      .join(overlap, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (hll_sketch_estimate(col("sk_a")) +
          hll_sketch_estimate(col("sk_b")) -
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .as("est"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_overlap"),
        (abs(col("est") - col("n_overlap")) <=
          lit(0.05) * (col("n_a") + col("n_b")).cast("double") + lit(5.0))
          .cast("long").as("within_bounds"))
  }

  /** TPC-H Q7 shape (volume shipping between two nation pairs): the
    * fact-fact lineitem⋈orders join shuffles once on orderkey; supplier,
    * customer, and both nation legs broadcast. The nation-pair predicate
    * applies symmetric filtering on BOTH dimension legs before the
    * join, so the broadcast sides are pre-shrunk — the pattern for any
    * "between groups A and B" analysis at scale.
    */
  def sql6NationVolume(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_3", "NATION_7")
    def nations(alias: String) = broadcast(
      Tables.nation(s, dir).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as(s"${alias}_key"),
          col("n_name").as(s"${alias}_nation")))
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val su = broadcast(Tables.supplier(s, dir))
    val c = broadcast(Tables.customer(s, dir))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(nations("supp"), col("s_nationkey") === col("supp_key"))
      .join(nations("cust"), col("c_nationkey") === col("cust_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Footer-statistics aggregation: COUNT/MIN/MAX answered from parquet
    * row-group metadata via Spark's aggregate pushdown — the scan reads
    * ZERO data pages ("PushedAggregation" in the plan, asserted in
    * PlanSpec). At 100 TB this is the difference between a metadata
    * operation (footers only) and a full-table scan for the exact same
    * answer; it's how table-stats collection stays cheap. Pushdown
    * requires the V2 parquet source, so both confs are scoped to a
    * child session (shared SparkContext, isolated SQL conf) — the rest
    * of the engine keeps its default V1 scans. */
  def stat3FooterStats(s: SparkSession, dir: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    Tables.orders(s2, dir)
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")).cast("double"), 2).as("min_price"),
        round(max(col("o_totalprice")).cast("double"), 2).as("max_price"))
  }

  /** TPC-H Q5 shape (local supplier volume): the 6-table star-with-
    * cycle join — lineitem⋈orders⋈customer⋈supplier⋈nation⋈region plus
    * the c_nationkey = s_nationkey closing edge. The plan the optimizer
    * should pick at any scale: region/nation/supplier/customer all
    * broadcast (each orders-of-magnitude smaller than the facts), the
    * only shuffle joins lineitem to orders, and the date/region filters
    * prune at the scans. Exercises Catalyst's join reordering across
    * the densest join graph in the suite. */
  def sql3LocalVolume(s: SparkSession, dir: String): DataFrame = {
    Seq("customer" -> Tables.customer(s, dir), "orders" -> Tables.orders(s, dir),
      "lineitem" -> Tables.lineitem(s, dir), "supplier" -> Tables.supplier(s, dir),
      "nation" -> Tables.nation(s, dir), "region" -> Tables.region(s, dir))
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    s.sql("""
      SELECT n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
          AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY n_name""")
  }

  /** MERGE INTO semantics over parquet snapshots — the CDC maintenance
    * step every warehouse table needs: matched keys take the update's
    * values, unmatched updates insert, unmatched snapshot rows carry
    * over, and each output row is stamped with the action taken.
    *
    * Scale shape: one full-outer shuffle join on the key — the minimal
    * plan for merge without a transactional table format underneath
    * (this is exactly what Delta/Iceberg MERGE lowers to, minus their
    * file-level skipping). The update batch is typically ≪ snapshot, so
    * AQE turns its side into the build side; keys are the only thing
    * wide about the exchange. */
  def merge1Upsert(snapshot: DataFrame, updates: DataFrame,
                   key: String): DataFrame = {
    val s = snapshot.select(col(key),
      struct(snapshot.columns.filter(_ != key).map(col): _*).as("s_row"))
    val u = updates.select(col(key),
      struct(updates.columns.filter(_ != key).map(col): _*).as("u_row"))
    val merged = s.join(u, Seq(key), "full_outer")
      .withColumn("action",
        when(col("u_row").isNull, "keep")
          .when(col("s_row").isNull, "insert")
          .otherwise("update"))
      .withColumn("row", coalesce(col("u_row"), col("s_row")))
    merged.select(col(key) +: col("action") +:
      snapshot.columns.filter(_ != key).map(c => col(s"row.$c").as(c)): _*)
  }

  /** SCD Type-2 versioning — the lakehouse-dimension counterpart of
    * [[merge1Upsert]]: instead of overwriting on merge, every change
    * appends a new version row and the previous one closes. A fresh
    * snapshot enters at version 0; a snapshot that already carries a
    * `version`/`is_current` history (this operator's own output) keeps
    * it, and the update batch lands one version past the history's
    * maximum — so chaining `merge2Scd2(merge2Scd2(snap, b1), b2)`
    * accumulates a correct multi-version history. The update batch
    * must be key-unique (the standard MERGE precondition; duplicate
    * keys in ONE batch have no defined order). Per-key `lead` derives
    * `is_current` (the open version has no successor); one shuffle on
    * the business key. */
  def merge2Scd2(snapshot: DataFrame, updates: DataFrame,
                 key: String): DataFrame = {
    val hist =
      (if (snapshot.columns.contains("version")) snapshot
       else snapshot.withColumn("version", lit(0L)))
        .drop("is_current")
    // one tiny driver scalar (max version so far) versions the batch —
    // the model-sized round-trip, not a data collect
    val nextV = hist.agg(max(col("version"))).head.getLong(0) + 1L
    val all = hist.unionByName(updates.withColumn("version", lit(nextV)))
    val w = Window.partitionBy(col(key)).orderBy(col("version"))
    all
      .withColumn("is_current",
        lead(col("version"), 1).over(w).isNull.cast("long"))
  }

  /** Semi-structured JSON battery over the events `props` column: the
    * two extraction paths a lakehouse query uses — path extraction
    * (`get_json_object`, schema-on-read) and typed parsing (`from_json`
    * with an explicit schema, the vectorizable path) — cross-checked
    * against each other per row, then aggregated. At 100 TB typed
    * parsing wins (no per-row path compilation, prunable struct), so
    * the agreement flag is the migration-safety check. */
  def str2JsonFunctions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val kPath = get_json_object(col("props"), "$.k").cast("long")
    val kTyped = from_json(col("props"),
      StructType(Seq(StructField("k", LongType)))).getField("k")
    e.select(col("event_type"), kPath.as("k_path"), kTyped.as("k_typed"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k_path")).as("sum_k"),
        min(col("k_path")).as("k_min"), max(col("k_path")).as("k_max"),
        sum((col("k_path") === col("k_typed")).cast("long")).as("n_agree"))
  }

  /** Date/time battery over orders: calendar decomposition, month-end,
    * month arithmetic (with end-of-month clamping), epoch day offsets —
    * all narrow codegen'd maps; every function chosen to have an exact
    * cross-engine twin (no locale- or week-convention-dependent
    * outputs). */
  def d3DateBattery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    o.select(col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      quarter(col("o_orderdate")).cast("long").as("q"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofmonth(col("o_orderdate")).cast("long").as("d"),
      last_day(col("o_orderdate")).as("month_end"),
      add_months(col("o_orderdate"), 3).as("plus3m"),
      datediff(col("o_orderdate"), lit("1995-01-01")).cast("long")
        .as("epoch_days"))
  }

  /** Ranking-function battery: rank / dense_rank / ntile / percent_rank
    * / cume_dist over each customer's orders, fully tie-broken (price
    * desc, orderkey asc) so every rank is deterministic on any engine.
    * One shuffle on the partition key; all five ranks come from the
    * same sorted pass. */
  def w6RankBattery(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.select(col("o_custkey"), col("o_orderkey"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      ntile(4).over(w).cast("long").as("quartile"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"))
  }

  /** String-function battery over customer: substring / concat / pad /
    * case / trim / split — the reference's string surface (SURVEY §2f)
    * on a table the oracle can read.
    */
  def str1Functions(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    c.select(
      col("c_custkey"),
      upper(col("c_mktsegment")).as("seg_upper"),
      substring(col("c_name"), -3, 3).as("name_tail"), // last 3 chars
      concat_ws("-", lower(col("c_mktsegment")),
        col("c_custkey").cast("string")).as("tag"),
      length(col("c_name")).cast("long").as("name_len"),
      lpad(col("c_custkey").cast("string"), 6, "0").as("key_pad"),
      trim(lit("  x  ")).as("trimmed"),
      element_at(split(col("c_name"), "#"), 1).as("name_prefix"))
  }

  /** Subquery battery: scalar subquery, uncorrelated IN, correlated
    * EXISTS and NOT EXISTS in one statement. Catalyst de-correlates all
    * four (RewritePredicateSubquery → semi/anti joins, scalar subquery →
    * one-row broadcast), so none of them becomes a per-row re-execution —
    * the property that makes subqueries usable at 100 TB. The plan is
    * asserted join-based in PlanSpec.
    */
  def sub1Subqueries(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql("""
      SELECT c.c_mktsegment,
        count(*) AS n_customers,
        CAST(sum(CASE WHEN EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
          THEN 1 ELSE 0 END) AS BIGINT) AS n_with_filled,
        CAST(sum(CASE WHEN NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_inactive
      FROM customer c
      -- exact-decimal sum / count: double avg is summation-order-
      -- dependent and this threshold feeds a predicate, so the scalar
      -- subquery must be bit-reproducible by the oracle engine
      WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)))
                                  AS DOUBLE) / count(*) FROM customer)
         OR c.c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 100000)
      GROUP BY c.c_mktsegment""")
  }

  /** TPC-H Q18 shape (large-volume customers): pre-aggregate lineitem
    * per order, HAVING-filter to the heavy tail, then join back to
    * orders/customer. Aggregating BEFORE the join is the load-bearing
    * choice: the join input shrinks from every lineitem row to one row
    * per qualifying order, and customer broadcasts. Top-k is a pinned
    * total order (TakeOrderedAndProject — no global sort).
    */
  def sql4BigOrders(s: SparkSession, dir: String, minQty: Int = 190,
                    k: Int = 10): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val heavy = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    Tables.orders(s, dir)
      .join(heavy, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("total_price"),
        col("sum_qty").cast("double").as("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey").asc)
      .limit(k)
  }

  /** Multiset (bag) set operations: INTERSECT ALL / EXCEPT ALL / UNION
    * ALL with duplicate-preserving semantics, counted. Spark plans
    * intersectAll/exceptAll as a single count-pairing aggregate per
    * input plus one join — duplicates never expand (generate replays
    * counts), so the exchange carries distinct rows + a count, the
    * shape that survives a skewed bag at scale.
    */
  def set2Multiset(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def bag(t: String) = e.filter(col("event_type") === t)
      .select(col("user_id"), floor(col("value")).cast("long").as("bucket"))
    val clicks = bag("click")
    val views  = bag("view")
    val rows = Seq(
      ("intersect_all", clicks.intersectAll(views)),
      ("except_all",    clicks.exceptAll(views)),
      ("union_all",     clicks.unionAll(views)))
      .map { case (op, df) =>
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      }
    rows.reduce(_ unionAll _)
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): null keys
    * match each other instead of vanishing. Null keys are synthesized
    * deterministically (device bucket 0 → null) on both sides; the join
    * stays a hash join — Spark hashes the null bucket like any other
    * key value, so the plan is identical to a plain equi-join (no
    * null-filter + union-of-two-joins rewrite needed).
    */
  def j5NullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def side(t: String, out: String) = e
      .filter(col("event_type") === t)
      .groupBy(nullif(pmod(col("user_id"), lit(10L)), lit(0L)).as("bucket"))
      .agg(count(lit(1)).as(out))
    val l = side("click", "n_clicks")
    val r = side("purchase", "n_purchases")
    l.join(r, l("bucket") <=> r("bucket"))
      .select(l("bucket").cast("long").as("bucket"),
        col("n_clicks"), col("n_purchases"))
  }

  /** GROUPING SETS with grouping() disambiguation: one Expand+aggregate
    * pass computes all four groupings (the same physical shape as
    * rollup/cube, but with an explicit set list — the general form).
    * grouping() flags distinguish "null because aggregated away" from
    * "null in the data", which rollup consumers need at any scale.
    */
  def g5GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
        CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderstatus), (o_orderpriority), ())""")
  }

  /** Correlated LATERAL subquery: top-2 lineitems per order for a
    * bounded order slice. Catalyst decorrelates the LIMIT-per-group
    * into a window (DecorrelateInnerQuery + RewriteLateralSubquery) —
    * per-group top-k without a per-row re-scan, the only join shape
    * that survives when the outer side is billions of rows.
    */
  def sql5LateralTopN(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT o.o_orderkey, t.l_linenumber,
        CAST(t.l_extendedprice AS DOUBLE) AS price
      FROM orders o,
      LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
               WHERE l.l_orderkey = o.o_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC
               LIMIT 2) t
      WHERE o.o_orderkey <= 200""")
  }

  /** Regex battery: extract / extract-all-count / match flag. Patterns
    * stay in the common Java-regex ∩ RE2 dialect (no backrefs, no
    * lookaround) so any engine reproduces them — the portability
    * constraint a cross-engine pipeline puts on its regex library.
    */
  def str3Regex(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    c.select(
      col("c_custkey"),
      regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
      size(regexp_extract_all(lower(col("c_mktsegment")), lit("[aeiou]+"), lit(0)))
        .cast("long").as("n_vowel_runs"),
      col("c_mktsegment").rlike("^(BUILD|AUTO)").as("seg_flag"),
      regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"))
  }

  /** Map-typed column battery: build a map from scalar columns, then
    * read it back out (keys, lookup, size, merged literal map). The
    * map stays inside the row pipeline — MapType is Tungsten-encoded,
    * so none of this leaves codegen or shuffles anything.
    */
  def map1Functions(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val m = map(
      lit("segment"), col("c_mktsegment"),
      lit("nation"), col("c_nationkey").cast("string"))
    c.select(
      col("c_custkey"),
      concat_ws(",", array_sort(map_keys(m))).as("keys_sorted"),
      element_at(m, "segment").as("segment"),
      size(m).cast("long").as("map_size"),
      element_at(map_concat(m, map(lit("tier"), lit("std"))), "tier")
        .as("tier"))
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): a correlated scalar
    * AVG subquery gating the fact rows. Catalyst decorrelates it into a
    * per-partkey aggregate joined back to the fact — ONE extra aggregate
    * + one join, never a per-row re-scan of lineitem (the difference
    * between O(n) and O(n²) when lineitem is 100 TB). The threshold uses
    * avg over integral-valued doubles, so the predicate boundary is
    * bit-identical in any engine; revenue sums as exact decimal.
    */
  def sql7AvgYearly(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    s.sql("""
      SELECT p.p_brand,
        count(*) AS n_small,
        CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
          AS avg_yearly
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = l.l_partkey)
      GROUP BY p.p_brand""")
  }

  /** TPC-H Q11 shape (important stock identification): HAVING against a
    * scalar subquery over the SAME aggregate — keep groups whose value
    * exceeds a threshold derived from the global total. The threshold is
    * 1.25× the MEAN per-part value (Q11's own spec scales its fraction
    * by 1/SF for exactly this reason — a fixed fraction of the total
    * selects nothing once the part count grows 10×). The global total is
    * one scan + a one-row broadcast; sums stay exact DECIMAL and the
    * final compare is the identical double expression in both engines.
    */
  def sql8ValueShare(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT l_partkey,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          AS part_value
      FROM lineitem
      GROUP BY l_partkey
      HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) >
        (SELECT 1.25 * CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                 AS DOUBLE) / count(DISTINCT l_partkey)
         FROM lineitem)""")
  }

  /** SCD Type-2 dimension build from an event/CDC stream: per key,
    * compress consecutive identical states (lag), then derive validity
    * intervals (lead) + the is_current flag. Both windows share ONE
    * user_id hash partitioning — the filter between them is narrow, so
    * the whole build is a single exchange regardless of history size.
    * Ordering ties break on event_id at microsecond granularity, making
    * the interval set reproducible across engines and re-runs (the
    * property a dimension backfill needs).
    */
  def scd2Dimension(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") / 20).cast("long").as("tier"))
      .withColumn("prev_tier", lag(col("tier"), 1).over(byUser))
      .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
      .select(col("user_id"), col("tier"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(lead(col("ts"), 1).over(byUser), "yyyy-MM-dd HH:mm:ss")
          .as("valid_to"),
        lead(col("ts"), 1).over(byUser).isNull.as("is_current"))
  }

  /** Equi-width histogram: fixed literal bounds → the bucket id is a
    * pure narrow expression ((x−lo)·nb/(hi−lo), floored and clamped),
    * one hash aggregate over ≤nb+1 keys. The same arithmetic runs in
    * any engine (width_bucket's edge semantics differ across engines,
    * so the formula IS the contract). At 100 TB this is the profile
    * pass that costs one scan and shuffles nb rows.
    */
  def stat7Histogram(s: SparkSession, dir: String,
                     lo: Double = 0.0, hi: Double = 500000.0,
                     nb: Int = 20): DataFrame = {
    val x = col("o_totalprice")
    val bucket = least(lit(nb.toLong),
      floor((x - lit(lo)) * nb / (hi - lo)) + 1L).as("bucket")
    Tables.orders(s, dir)
      .groupBy(bucket)
      .agg(count(lit(1)).as("n"),
        min(x).as("lo_seen"), max(x).as("hi_seen"))
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE): walk a 10-ary hierarchy
    * synthesized on customer keys (parent = key div 10) from the <10
    * roots, carrying (root, depth), then aggregate balances per (root,
    * depth). Each iteration is ONE equi-join of the frontier against the
    * base table — the same iterate-until-empty shape as connected
    * components ([[Dedup.connectedComponents]]), but planner-managed.
    * Depth is bounded by the key width (log₁₀), so the recursion
    * terminates structurally at any scale.
    */
  def sql9Recursive(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    s.sql("""
      WITH RECURSIVE tree AS (
        SELECT c_custkey AS custkey, c_custkey AS root, 0 AS depth,
               c_acctbal AS bal
        FROM customer WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, t.root, t.depth + 1, c.c_acctbal
        FROM customer c JOIN tree t ON c.c_custkey div 10 = t.custkey
        WHERE c.c_custkey >= 10)
      SELECT root, depth, count(*) AS n_nodes,
        CAST(sum(CAST(bal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
      FROM tree GROUP BY root, depth""")
  }

  /** Big-big interval join via range bucketization — the non-broadcast
    * scale path rj1's dim-bounds face stands in for: promotion windows
    * (3 days from every 500th order) explode into the DAY buckets they
    * cover, fact rows map to their single day bucket, and the join is a
    * plain EQUI-join on day + a residual bounds filter. No
    * BroadcastNestedLoopJoin, no O(n·m) — each fact row meets only the
    * intervals sharing its bucket, and a (promo, item) pair can match in
    * exactly one bucket (the item's), so no dedup is needed. This is
    * what range-join "bin" hints lower to; the oracle runs the naive
    * inequality join to pin identical semantics.
    */
  def rj2BucketedRange(s: SparkSession, dir: String): DataFrame = {
    val daySecs = 86400L
    val promos = Tables.orders(s, dir)
      .filter(pmod(col("o_orderkey"), lit(500)) === 0)
      .select(col("o_orderkey").as("promo_id"),
        col("o_orderdate").cast("timestamp").cast("long").as("lo_s"))
      .withColumn("hi_s", col("lo_s") + 3L * daySecs)
      // covered buckets: floor(lo/day) .. floor((hi-1)/day) (hi exclusive)
      .withColumn("day", explode(sequence(
        (col("lo_s") / daySecs).cast("long"),
        ((col("hi_s") - 1L) / daySecs).cast("long"))))
    val items = Tables.lineitem(s, dir)
      .select(col("l_quantity"),
        col("l_shipdate").cast("timestamp").cast("long").as("ship_s"))
      .withColumn("day", (col("ship_s") / daySecs).cast("long"))
    items.join(promos, Seq("day"))
      .filter(col("ship_s") >= col("lo_s") && col("ship_s") < col("hi_s"))
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
  }

  /** Poisson bootstrap (the resampling scheme that works on one pass):
    * each row enters replicate r with weight ~ Poisson(1), so a
    * replicate mean needs no materialized resample — just a weighted
    * aggregate. The Poisson draw is DETERMINISTIC: an md5-derived
    * uniform per (row, replicate) inverted through the Poisson(1) CDF
    * (literal thresholds), so any engine — and any re-run — produces
    * the identical replicate set; the reps explode partial-aggregates
    * before the exchange, which carries reps×3 numbers per partition
    * regardless of input size.
    */
  def stat8Bootstrap(s: SparkSession, dir: String,
                     reps: Int = 16): DataFrame = {
    // P[Poisson(1) <= k] for k = 0..5, 10dp literals — the contract
    val cdf = Seq(0.3678794412, 0.7357588824, 0.9196986030,
      0.9810118431, 0.9963401532, 0.9994058152)
    val u = md5Base60(concat_ws(":", col("o_orderkey"), col("r"))) /
      lit(1152921504606846976.0) // 2^60 — exact binary fraction
    val w = cdf.map(t => when(u >= t, 1L).otherwise(0L)).reduce(_ + _)
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("r", explode(sequence(lit(0), lit(reps - 1))))
      .select(col("r").cast("long").as("r"), w.as("w"), col("o_totalprice"))
      .groupBy(col("r"))
      .agg(sum(col("w")).as("n_eff"),
        round(sum(col("w") * dec(col("o_totalprice"))).cast("double") /
          sum(col("w")), 6).as("boot_mean"))
  }

  /** Two-sample Kolmogorov–Smirnov test — the distribution-drift monitor
    * a data pipeline runs between yesterday's and today's feed. D =
    * max |F_a(x) − F_b(x)| over the pooled support. Scale shape: the
    * heavy step is a hash-aggregate on VALUE (per-value counts for both
    * sides — the only thing that shuffles), and the ordered prefix-sum
    * runs over the distinct-value domain, not the row count — bounded
    * by the value grid (2dp here), however large the input. Emits D,
    * the α=0.05 critical value, and the reject flag.
    */
  def stat9KsTest(s: SparkSession, dir: String,
                  typeA: String = "click", typeB: String = "purchase")
    : DataFrame = {
    val counts = Tables.events(s, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val wCum = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // totals as whole-frame window sums over the SAME single partition
    // the cumulative window already requires — one events scan, no
    // second aggregation subtree, no extra exchange
    val wAll = Window.partitionBy()
    val crit = round(lit(1.358) * sqrt((col("na") + col("nb")).cast("double") /
      (col("na") * col("nb")).cast("double")), 6)
    counts
      .select(sum(col("a")).over(wCum).as("ca"), sum(col("b")).over(wCum).as("cb"),
        sum(col("a")).over(wAll).as("na"), sum(col("b")).over(wAll).as("nb"))
      .select(abs(col("ca").cast("double") / col("na") -
        col("cb").cast("double") / col("nb")).as("d"), col("na"), col("nb"))
      .groupBy(col("na"), col("nb"))
      .agg(round(max(col("d")), 6).as("ks_d"))
      .select(col("na"), col("nb"), col("ks_d"), crit.as("crit_05"),
        (col("ks_d") > crit).as("reject"))
  }

  /** TPC-H Q22 shape (global sales opportunity): wealthy-but-inactive
    * customers — balance above the positive-balance average of their
    * code group, with NO orders (anti-join). The scalar average is one
    * filtered scan + a one-row broadcast; the NOT EXISTS decorrelates to
    * a left-anti hash join; sums stay exact decimal so the cut line and
    * totals replay identically in any engine.
    */
  def sql10GlobalSales(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_nationkey % 7 AS cntrycode, count(*) AS numcust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      FROM customer
      WHERE c_nationkey % 7 IN (0, 1, 2, 3)
        AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)))
                                AS DOUBLE) / count(*)
                         FROM customer
                         WHERE c_acctbal > 0 AND c_nationkey % 7 IN (0, 1, 2, 3))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      GROUP BY c_nationkey % 7""")
  }

  /** Dynamic Partition Pruning: join a hive-partitioned fact table on
    * its PARTITION column against a selectively-filtered dim — Spark
    * plans a dynamicpruningexpression into the scan's PartitionFilters,
    * so only the partitions matching the dim's surviving keys are ever
    * listed/read (asserted in Round4iSpec). At 100 TB this is the
    * mechanism that turns "join against this week's dims" into a scan
    * of this week's directories. The partitioned copy is written once
    * per (session, dataset), same as the bucketed-join tables. The dim
    * filter (md5-derived tier) is a pure function of the key, so the
    * oracle reproduces the surviving partition set exactly.
    */
  def j6DynamicPruning(s: SparkSession, dir: String): DataFrame = {
    // keyed on the full sanitized path (like the bucketed-join sinks) —
    // abs(hashCode) risks cross-dir collisions and stays negative for
    // Int.MinValue
    val base = s"/tmp/graft_part_sink_${dir.replaceAll("[^A-Za-z0-9]", "_")}_dpp"
    if (!new java.io.File(base).exists()) {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(4).write.mode("overwrite").partitionBy("lang").parquet(base)
    }
    val fact = s.read.parquet(base)
    val dim = Tables.documents(s, dir).select(col("lang")).distinct()
      .withColumn("tier", pmod(md5Base60(col("lang")), lit(2)))
    fact.join(broadcast(dim.filter(col("tier") === 0)), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
  }

  /** TPC-H Q12 shape (shipping-mode priority): fact⋈dim join with a
    * pushed date-window filter, then conditional counts per derived
    * ship mode. The CASE counting (one pass, no pivot-discovery job)
    * partial-aggregates map-side; the date filter reaches the parquet
    * scan. Ship mode is derived (the schema has none) — a pure key
    * function both engines compute identically.
    */
  def sql11ShipMode(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT mode,
        sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS high_line_count,
        sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN 1 ELSE 0 END) AS low_line_count
      FROM (SELECT o_orderpriority,
              CASE l_suppkey % 3 WHEN 0 THEN 'AIR' WHEN 1 THEN 'RAIL'
                ELSE 'SHIP' END AS mode
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00')
      GROUP BY mode""")
  }

  /** TPC-H Q14 shape (promotion effect): the CASE-inside-aggregate
    * ratio — promo revenue share of one ship month. Both sums stay
    * exact DECIMAL; the single double division at the end is the same
    * expression in both engines, so the percentage is bit-stable.
    */
  def sql12PromoShare(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
          THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(4,2)))
          ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
        AS promo_revenue_pct,
        count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-03-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'""")
  }

  /** ANSI-safe scalar battery: Spark 4 runs ANSI mode by default, so
    * runtime faults (divide-by-zero, bad casts) THROW unless the
    * pipeline opts into the `try_` forms — which return NULL instead,
    * the behavior a bulk pipeline over dirty data needs. try_divide
    * nulls the zero-divisor rows, try_cast nulls unparseable strings
    * (here: a JSON-extracted numeric that parses, and an enum string
    * that doesn't), try_element_at nulls the out-of-bounds probe. All
    * narrow, zero-exchange (plan-asserted).
    */
  def func1TryBattery(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).select(
      col("event_id"),
      round(try_divide(col("value"),
        pmod(col("user_id"), lit(4)).cast("double")), 6).as("safe_div"),
      expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k_val"),
      expr("try_cast(event_type AS BIGINT)").as("type_num"),
      expr("try_element_at(split(event_type, ':'), 99)").as("missing"))
  }

  /** TPC-H Q10 shape (returned-item reporting): customers ranked by
    * revenue lost to returns in a quarter. Fact⋈fact shuffle once on
    * orderkey; customer/nation broadcast; deterministic top-20 via
    * TakeOrderedAndProject with a custkey tie-break. The return-flag
    * and date filters are pushed into both scans.
    */
  def sql13ReturnedRevenue(s: SparkSession, dir: String,
                           k: Int = 20): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(s"""
      SELECT c_custkey, c_name, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (1 - CAST(l_discount AS DECIMAL(4,2)))) DESC, c_custkey ASC
      LIMIT $k""")
  }

  /** TPC-H Q16 shape (parts/supplier variety): DISTINCT-aggregate per
    * group plus a NOT-IN exclusion list. count(DISTINCT l_suppkey)
    * expands each group's rows by the distinct key before the final
    * aggregate (Spark's two-phase distinct-agg rewrite) — the shuffle
    * carries (group, suppkey) pairs once each, not raw fact rows.
    */
  def sql14SupplierVariety(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT p_brand, p_type,
        CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
        count(*) AS n_items
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand NOT IN ('Brand#1', 'Brand#2', 'Brand#3')
        AND p_size >= 10
      GROUP BY p_brand, p_type""")
  }

  /** TPC-H Q15 shape (top supplier): a derived revenue view reused by
    * both the outer query and a HAVING-equals-global-max scalar
    * subquery. Spark computes the view's aggregate twice (no automatic
    * CTE materialization for DataFrame reuse) but each pass is the same
    * partial-agg shape; the max is a one-row broadcast. Exact decimal
    * revenue means "equals the max" is an exact comparison — a
    * double-valued max boundary would be engine lottery.
    */
  def sql15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql("""
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
          sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
            (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name,
        CAST(total_revenue AS DOUBLE) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""")
  }

  /** Population Stability Index — KS's companion drift metric (how much
    * probability mass moved, not just the worst gap). Same scale shape
    * as [[stat9KsTest]]: one hash-aggregate on the bucketed value is
    * the only row-count-sized exchange; the PSI sum runs over ≤nb
    * buckets. The log-ratio quantizes to integer micro-nats before
    * summation (the unigram-LM trick) so bucket-order cannot perturb
    * the total; zero-count buckets take the standard ε floor, applied
    * identically in the oracle.
    */
  def stat10Psi(s: SparkSession, dir: String, nb: Int = 20,
                typeA: String = "click", typeB: String = "purchase")
    : DataFrame = {
    val bucket = least(lit(nb.toLong),
      floor(col("value") * nb / 500.0) + 1L).as("bucket")
    val counts = Tables.events(s, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(bucket)
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val wAll = Window.partitionBy()
    val eps = 1e-6
    val pa = greatest(col("a").cast("double") / sum(col("a")).over(wAll), lit(eps))
    val pb = greatest(col("b").cast("double") / sum(col("b")).over(wAll), lit(eps))
    counts
      .select(round(log(pa / pb) * (pa - pb) * 1e6, 0).cast("long")
        .as("term_micro"))
      .agg(round(sum(col("term_micro")).cast("double") / 1e6, 6).as("psi"))
      .select(col("psi"),
        (col("psi") > 0.2).as("major_shift"))
  }

  /** Welch's two-sample t-test (unequal variances) — the
    * hypothesis-testing face beside the KS/PSI drift monitors. The
    * moment sums run in EXACT integer cents (value has 2dp, so
    * value·100 is an exact integer and its square an exact long): one
    * scan, one 2-row aggregate, every downstream double op the same
    * expression in both engines. Emits t, the Welch–Satterthwaite df,
    * and the |t| > 1.96 flag.
    */
  def stat11TTest(s: SparkSession, dir: String,
                  typeA: String = "click", typeB: String = "purchase")
    : DataFrame = {
    val cents = round(col("value") * 100, 0).cast("long")
    val m = Tables.events(s, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents).as("s1"),
        sum(cents * cents).as("s2"))
      .select(col("event_type"), col("n"),
        (col("s1").cast("double") / col("n") / 100.0).as("mean"),
        // sample variance in dollars²: (Σx² − (Σx)²/n) / (n−1) / 100²
        (((col("s2").cast("double") -
          col("s1").cast("double") * col("s1") / col("n")) /
          (col("n") - 1)) / 10000.0).as("variance"))
    val a = m.filter(col("event_type") === typeA)
      .select(col("n").as("na"), col("mean").as("ma"), col("variance").as("va"))
    val b = m.filter(col("event_type") === typeB)
      .select(col("n").as("nb"), col("mean").as("mb"), col("variance").as("vb"))
    val sa = col("va") / col("na")
    val sb = col("vb") / col("nb")
    a.crossJoin(b).select(
      col("na"), col("nb"),
      round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
      round((col("ma") - col("mb")) / sqrt(sa + sb), 6).as("t_stat"),
      round((sa + sb) * (sa + sb) /
        (sa * sa / (col("na") - 1) + sb * sb / (col("nb") - 1)), 2).as("df"),
      (abs((col("ma") - col("mb")) / sqrt(sa + sb)) > 1.96).as("significant"))
  }

  /** Calendar-dimension build + conformance join — the warehouse date
    * spine: generate every day between the order min/max (sequence +
    * explode off a 1-row broadcast bounds frame — no driver loop), stamp
    * calendar attributes, left-join daily order aggregates so quiet days
    * appear with zeros. At scale the spine is ~10k rows for 30 years —
    * always the broadcast side of any conformance join.
    */
  def time1Calendar(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderdate").cast("timestamp").as("od"),
        col("o_totalprice"))
    val bounds = o.agg(date_trunc("day", min(col("od"))).as("d0"),
      date_trunc("day", max(col("od"))).as("d1"))
    val spine = bounds
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
    val daily = o.groupBy(date_trunc("day", col("od")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
    spine.join(daily, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        dayofweek(col("day")).cast("long").as("dow"),
        month(col("day")).cast("long").as("month"),
        quarter(col("day")).cast("long").as("quarter"),
        dayofweek(col("day")).isin(1, 7).as("is_weekend"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
  }

  /** TPC-H Q8 shape (national market share): one nation's share of a
    * region's yearly revenue — the ratio of a CONDITIONAL sum to the
    * total over the same join graph, computed in one aggregation pass
    * (no second scan for the denominator). Dims broadcast; both sums
    * stay exact DECIMAL and divide once as doubles.
    */
  def sql16MarketShare(s: SparkSession, dir: String,
                       nation: String = "NATION_3"): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.region(s, dir).createOrReplaceTempView("region")
    s.sql(s"""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        CAST(sum(CASE WHEN n_name = '$nation'
          THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(4,2)))
          ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) /
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
               (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
          AS mkt_share,
        count(*) AS n_items
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = (SELECT r_name FROM nation JOIN region
                      ON n_regionkey = r_regionkey
                      WHERE n_name = '$nation')
      GROUP BY year(o_orderdate)""")
  }

  /** TPC-H Q19 shape (discounted revenue, disjunctive predicates): an
    * OR-of-ANDs across the join — the planner must still push the
    * common join key and the per-branch ranges into the scans
    * (disjunctions defeat naive pushdown; Spark pushes the full Or
    * filter to parquet). One aggregation, no row multiplication.
    */
  def sql17Disjunctive(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
          (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        count(*) AS n_items
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)""")
  }

  /** Value-window battery: first / last / nth over an explicit frame —
    * the positional window functions the rank battery (w6) and
    * lag/lead (w3) don't cover. The frame is the WHOLE partition
    * (unbounded both ways) so every row of a key sees the same
    * first/last/nth — deterministic under the pinned total order.
    */
  def w7ValueBattery(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderkey"),
      first(col("o_orderkey")).over(w).as("first_order"),
      last(col("o_orderkey")).over(w).as("last_order"),
      nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
  }

  /** Deterministic array-aggregation battery: collect_list is
    * partition-order-dependent, so EVERY collected array is normalized
    * with sort_array (or built pre-sorted) before leaving the operator
    * — the only way array-valued results can be compared, hashed, or
    * diffed across runs and engines.
    */
  def agg2CollectBattery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .filter(col("o_custkey") <= 50)
      .groupBy(col("o_custkey"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("o_orderkey"))))
          .as("order_keys"),
        concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        size(collect_set(col("o_orderpriority"))).cast("long")
          .as("n_priorities"))
  }

  /** TPC-H Q13 shape (customer distribution): how many customers placed
    * k orders, for every k — a GROUP BY over the result of another
    * aggregate, with a LEFT OUTER join so zero-order customers land in
    * the k=0 bucket instead of vanishing. Two aggregations; the second
    * runs over one row per customer, and its key domain (distinct
    * order counts) is tiny.
    */
  def sql18CustDistribution(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql("""
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
                 AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey)
      GROUP BY c_count""")
  }

  /** TPC-H Q2 shape (minimum-cost supplier): a correlated equality
    * against a per-group MIN — for each part, exactly the suppliers
    * whose price EQUALS that part's minimum. Catalyst decorrelates the
    * scalar MIN into one per-part aggregate joined back (sql7's AVG
    * pattern with equality semantics: ties all qualify). Price compares
    * as exact DECIMAL so the equality cannot drift.
    */
  def sql19MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql("""
      SELECT l.l_partkey, s.s_suppkey, s.s_name,
        CAST(l.l_extendedprice AS DOUBLE) AS price
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE l.l_partkey < 200
        AND CAST(l.l_extendedprice AS DECIMAL(12,2)) =
          (SELECT min(CAST(l2.l_extendedprice AS DECIMAL(12,2)))
           FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""")
  }

  /** Derived partsupp dimension — the testdata ships no partsupp table,
    * so the TPC-H faces that need one (Q9, Q20) derive it
    * DETERMINISTICALLY: each part gets 4 suppliers by modular stride
    * over the supplier count (a scalar subquery, so the same text runs
    * at every scale factor), with supply cost and available quantity as
    * pure key functions. Plain ANSI SQL — the DuckDB oracle runs the
    * IDENTICAL text, so both engines agree on every derived row. Scale
    * shape: 4×|part| rows built from a VALUES cross — a dim-sized
    * frame, broadcast-able against the lineitem fact.
    */
  val PartsuppCte: String = """
      WITH i4(i) AS (VALUES (0), (1), (2), (3)),
      ps0 AS (
        SELECT p_partkey AS ps_partkey,
          (p_partkey + i * 13) % (SELECT count(*) FROM supplier)
            AS ps_suppkey
        FROM part CROSS JOIN i4
      ),
      partsupp AS (
        SELECT ps_partkey, ps_suppkey,
          (ps_partkey * 31 + ps_suppkey * 17) % 50000 + 100
            AS ps_cost_cents,
          (ps_partkey * 17 + ps_suppkey * 29) % 1000 + 1 AS ps_availqty
        FROM ps0
      )"""

  /** TPC-H Q4 shape (order priority checking): orders of one quarter
    * with at least one LATE lineitem (shipped > 60 days after the order
    * date — the schema has no commit/receipt dates), counted by
    * priority. The EXISTS decorrelates to a LeftSemi hash join on
    * l_orderkey (plan-asserted); the quarter window is pushed into the
    * orders scan.
    */
  def sql20OrderPriority(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority""")
  }

  /** TPC-H Q6 (forecasting revenue change) — the canonical pushdown
    * micro-benchmark: a single filtered aggregate whose every predicate
    * is a scan-column comparison, so the whole WHERE clause must reach
    * the parquet reader as PushedFilters (plan-asserted) and the scan
    * reads 4 of 11 columns. Revenue is an exact decimal sum, cast to
    * double at the boundary.
    */
  def sql21ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_discount >= 0.05 AND l_discount <= 0.07
        AND l_quantity < 24""")
  }

  /** TPC-H Q9 shape (product type profit): profit per nation per year
    * over a name-filtered part slice — revenue (exact decimal) minus
    * supply cost (integer cents from the derived partsupp, × quantity),
    * converted to double only at the output. One lineitem-sized shuffle
    * (the orderkey join); part/partsupp/supplier/nation are dim-sized
    * sides AQE broadcasts.
    */
  def sql22ProductProfit(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(PartsuppCte + """
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
        CAST(round(
          sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
              (1 - CAST(l_discount AS DECIMAL(4,2))))
          - CAST(sum(ps_cost_cents * CAST(l_quantity AS BIGINT))
                 AS BIGINT) * 0.01, 2) AS DOUBLE) AS profit
      FROM lineitem
      JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
      JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      GROUP BY n_name, year(o_orderdate)""")
  }

  /** TPC-H Q20 shape (potential part promotion): suppliers holding
    * EXCESS stock of a name-filtered part family — available quantity
    * above half of what they actually shipped in the year (a correlated
    * scalar aggregate that decorrelates to one aggregated join). The
    * quantity sum is exact (integral doubles below 2^53), so the cut
    * line replays identically on any engine.
    */
  def sql23ExcessStock(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(PartsuppCte + """
      SELECT s_suppkey, s_name
      FROM supplier
      WHERE s_suppkey IN (
        SELECT ps_suppkey FROM partsupp
        WHERE ps_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps_availqty > (
            SELECT 0.5 * sum(l_quantity) FROM lineitem
            WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'))""")
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): the one
    * lineitem whose supplier was the ONLY late shipper in a finished
    * multi-supplier order ("late" = shipped > 90 days after the order
    * date). The double-correlated EXISTS / NOT EXISTS pair decorrelates
    * to a semi + anti join, all shuffling on l_orderkey.
    */
  def sql24WaitingSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      WHERE o_orderstatus = 'F'
        AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o2.o_orderdate + INTERVAL 90 DAY)
      GROUP BY s_name""")
  }

  /** Gini coefficient of customer revenue — the inequality metric an
    * account-concentration report leads with. The heavy input collapses
    * to one row per customer first; the rank/cumulative math then runs
    * over the ENTITY dimension (like RFM's ntile), with revenue as
    * exact decimal cents so Σi·xᵢ is exact integer arithmetic until
    * the one final division. G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over
    * ascending revenue with a custkey tie-break.
    */
  def stat12Gini(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
    // rank over the customer entity frame — scalable exact rank
    // (Ranking.withGlobalRank: range partitions + offset broadcast, no
    // single-partition sort; bit-equal, o_custkey tie-broken)
    Ranking.withGlobalRank(perCust, "i", "__n",
        Seq(col("cents").asc, col("o_custkey").asc))
      // Σi·xᵢ approaches Long range near sf1 (~1.5M customers × ~5e7
      // cents) — accumulate as DECIMAL(38,0) (exact 128-bit, like the
      // oracle's HUGEINT) and convert to double only for the one final
      // division; n·Σx likewise multiplies as double, not long.
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("total_cents"),
        sum((col("i").cast("decimal(38,0)") * col("cents")))
          .as("weighted_cents"))
      .select(col("n"),
        round(col("total_cents").cast("double") / 100, 2).as("total_revenue"),
        round(lit(2.0) * col("weighted_cents").cast("double") /
          (col("n").cast("double") * col("total_cents").cast("double")) -
          (col("n") + 1).cast("double") / col("n"), 6).as("gini"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric companion
    * to Welch's t (stat11): compares distributions by rank, immune to
    * outliers and non-normality. Same scale shape as the KS test: the
    * only row-count-sized exchange is the per-value count aggregate;
    * ranks come from a prefix sum over the bounded value domain, with
    * midranks for ties — all half-integer arithmetic, carried as
    * doubled integers so everything is EXACT until the final z
    * denominator. Normal approximation without tie correction
    * (documented; the tie term is second-order at these tie rates).
    */
  def stat13MannWhitney(s: SparkSession, dir: String,
                        typeA: String = "click", typeB: String = "purchase")
    : DataFrame = {
    val counts = Tables.events(s, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    // midrank of a tied value group, DOUBLED to stay integer:
    // 2·midrank = 2·cum_prev + (group_size + 1)
    counts
      .withColumn("cum_prev",
        coalesce(sum(col("a") + col("b")).over(w), lit(0L)))
      .withColumn("rank2",
        lit(2L) * col("cum_prev") + col("a") + col("b") + 1L)
      .withColumn("na", sum(col("a")).over(wAll))
      .withColumn("nb", sum(col("b")).over(wAll))
      .groupBy(col("na"), col("nb"))
      .agg(sum(col("a") * col("rank2")).as("ra2"))
      // U = R_a − na(na+1)/2, computed in doubled units then halved
      .withColumn("u", (col("ra2") - col("na") * (col("na") + 1L))
        .cast("double") / 2)
      .select(col("na"), col("nb"), col("u"),
        round((col("u") - col("na").cast("double") * col("nb") / 2) /
          sqrt(col("na").cast("double") * col("nb") *
            (col("na") + col("nb") + 1L) / 12), 6).as("z"),
        (abs((col("u") - col("na").cast("double") * col("nb") / 2) /
          sqrt(col("na").cast("double") * col("nb") *
            (col("na") + col("nb") + 1L) / 12)) > 1.96).as("significant"))
  }

  /** Second-moment statistics battery: correlation, sample covariance /
    * variance / stddev, plus the regression slope derived from them —
    * all single-pass streaming aggregates (Welford-style partial
    * states merge associatively), so one scan + a tiny exchange of
    * per-partition moment tuples regardless of input size.
    */
  def stat5Moments(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("value"),
        (col("user_id") % 97).cast("double").as("x"))
    e.groupBy(col("event_type"))
      .agg(
        round(corr(col("x"), col("value")), 5).as("corr_xy"),
        round(covar_samp(col("x"), col("value")), 4).as("covar"),
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(var_samp(col("value")), 3).as("var_value"),
        round(covar_samp(col("x"), col("value")) /
          var_samp(col("x")), 6).as("slope"),
        count(lit(1)).as("n"))
  }

  /** Pairwise Pearson correlation matrix over the lineitem measures —
    * the feature-redundancy screen of an ML pipeline, computed the way
    * a 100 TB job must: ALL pairs in ONE scan (each corr is a set of
    * map-side moment partials; six of them share the pass), then a
    * stack() unpivot of the single wide row into (col_a, col_b, r)
    * long form. Rounded at 5dp — the same cross-engine-stable moment
    * discipline stat5 established. */
  def stat17CorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 5).as(s"${a}__$b") }
    Tables.lineitem(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${pairs.size}, " + pairs.map { case (a, b) =>
        s"'$a', '$b', `${a}__$b`" }.mkString(", ") +
        ") as (col_a, col_b, corr_r)"))
  }

  /** Robust outlier screen on `events.value`: median / MAD fences
    * (|x − med| > 3·1.4826·MAD, the robust z-score) — the anomaly
    * gate that, unlike mean/stddev fences, outliers cannot drag.
    *
    * Scale shape: ONE data-sized aggregation builds the cents-quantized
    * value histogram; the median, the MAD (whose histogram derives from
    * the value histogram by |v − med| re-keying — no second data pass),
    * and the outlier count are all DOMAIN-sized cumulative windows over
    * distinct cents values. Exactness: order statistics are LOWER
    * medians at rank (n+1) div 2 — pure selection on integers; the
    * fence compares 10000·|x−med| > 44478·MAD, the 3·1.4826 constant
    * pre-scaled to an exact integer — zero float ops anywhere. */
  def stat22MadOutliers(s: SparkSession, dir: String): DataFrame = {
    // materialized once (domain-sized — distinct cents values): the
    // histogram feeds four subtrees (total, median, MAD re-key, fence
    // count); without the checkpoint each would re-scan events.
    val hist = Tables.events(s, dir)
      .select(round(col("value") * 100).cast("long").as("vc"))
      .groupBy(col("vc")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = hist.agg(sum(col("c")).as("n"))
    val cumW = Window.orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = hist.withColumn("cum", sum(col("c")).over(cumW))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("vc")).as("med"))
    val adHist = hist.crossJoin(broadcast(med))
      .groupBy(abs(col("vc") - col("med")).as("ad"))
      .agg(sum(col("c")).as("c"))
    val cumAdW = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = adHist.withColumn("cum", sum(col("c")).over(cumAdW))
      .crossJoin(broadcast(tot))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("ad")).as("mad"))
    hist.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .agg(sum(col("c")).as("n"),
        max(col("med")).as("med_cents"), max(col("mad")).as("mad_cents"),
        sum(when(abs(col("vc") - col("med")) * 10000 >
          col("mad") * 44478, col("c")).otherwise(0L)).as("n_outliers"))
  }

  /** Interval-OVERLAP join: user sessions (intervals derived by the
    * w5 sessionizer) against daily promo windows (09:00–15:00 UTC,
    * derived deterministically from the active dates) — "how many
    * sessions touched each promo window", where BOTH sides are
    * intervals, not points (rj1/rj2 cover the point-in-interval case).
    *
    * Scale shape: the classic grid-bucket expansion — each interval
    * explodes to its covered hour buckets, candidates come from an
    * hour-keyed EQUI-join (cost Σ_bucket |s||p| per bucket, never a
    * cross product), the exact overlap predicate then filters and the
    * (session, promo) pair distinct-s before counting. Lossless: an
    * overlapping pair always shares at least one hour bucket. Session
    * intervals are closed, promo windows half-open [lo, hi). */
  def j7IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prevUs = lag(unix_micros(col("ts")), 1).over(byUser)
    val sessions = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_sess", when(prevUs.isNull ||
        unix_micros(col("ts")) - prevUs >= 30L * 60L * 1000000L, 1L)
        .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("s_lo"),
        max(unix_micros(col("ts"))).as("s_hi"))
    val promos = Tables.events(s, dir)
      .select(to_date(col("ts")).as("d")).distinct()
      .select(datediff(col("d"), lit("1970-01-01").cast("date"))
        .cast("long").as("promo_id"),
        unix_micros(col("d").cast("timestamp")).as("day_us"))
      .select(col("promo_id"),
        (col("day_us") + 9L * hourUs).as("p_lo"),
        (col("day_us") + 15L * hourUs).as("p_hi"))
    val sB = sessions.withColumn("bucket", explode(sequence(
      (col("s_lo") / hourUs).cast("long"),
      (col("s_hi") / hourUs).cast("long"))))
    val pB = promos.withColumn("bucket", explode(sequence(
      (col("p_lo") / hourUs).cast("long"),
      ((col("p_hi") - 1L) / hourUs).cast("long"))))
    sB.join(pB, Seq("bucket"))
      .filter(col("s_lo") < col("p_hi") && col("p_lo") <= col("s_hi"))
      .select(col("user_id"), col("session_id"), col("promo_id")).distinct()
      .groupBy(col("promo_id"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Benford first-digit reference probabilities, micro-quantized from
    * log₁₀(1 + 1/d) ONCE at build time — the same integer literals are
    * interpolated into the DuckDB oracle, so no runtime log appears in
    * either engine. */
  val BenfordMicros: Seq[Long] =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)

  /** Benford's-law audit of `events.value`: observed first-significant-
    * digit frequencies vs the log₁₀(1+1/d) reference — the classic
    * fabricated-numbers screen for an ingested fact column. (A bounded
    * uniform-ish value column SHOULD deviate — the deviation row is the
    * signal either way.)
    *
    * Scale shape: one narrow scan → 9-cell aggregation with map-side
    * partials; reference probs join as a 9-row broadcast literal
    * frame. Determinism: counts are exact; the single micro-rounded
    * divide per digit is the shared oov_rate pattern. */
  def stat23Benford(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(round(col("value") * 100).cast("long").as("vc"))
      .filter(col("vc") > 0)
      .select(substring(col("vc").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val ref = s.range(1, 10).select(col("id").as("digit"),
      expr(s"element_at(array(${BenfordMicros.mkString("L, ")}L), " +
        "cast(id as int))").as("benford_micros"))
    obs.crossJoin(broadcast(obs.agg(sum(col("n_obs")).as("n"))))
      .join(broadcast(ref), Seq("digit"))
      .select(col("digit"), col("n_obs"),
        round(lit(1e6) * col("n_obs").cast("double") / col("n"))
          .cast("long").as("freq_micros"),
        col("benford_micros"))
      .withColumn("dev_micros", col("freq_micros") - col("benford_micros"))
  }

  /** Spearman rank correlation between per-user event count and total
    * value — the monotone-association check Pearson can't give when
    * the relationship is nonlinear or heavy-tailed (a whale with 2
    * events breaks Pearson, not Spearman): ρ = 1 − 6·Σd²/(n(n²−1))
    * over fully tie-broken ranks. One user-keyed aggregation, two rank
    * windows over the user frame, one exact-integer Σd² fold.
    *
    * Determinism: both rank orders carry user_id as the final
    * tiebreak, so d² is exact; the single IEEE divide runs on exact
    * longs, micro-rounded. (With ties broken deterministically rather
    * than midranked, this is Spearman over a pinned total order — the
    * engine-reproducible variant; midranks would need the tie-group
    * average and a second window.) */
  def stat27Spearman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .localCheckpoint(true) // one events scan for both rank passes
    // both rank orders over the user entity frame — two scalable exact
    // rank passes (no single-partition sorts; bit-equal, user_id
    // tie-broken)
    Ranking.withGlobalRank(
        Ranking.withGlobalRank(perUser, "ra", "__na",
          Seq(col("n_events").asc, col("user_id").asc)),
        "rb", "__nb", Seq(col("cents").asc, col("user_id").asc))
      .agg(count(lit(1)).as("n_users"),
        sum((col("ra") - col("rb")) * (col("ra") - col("rb")))
          .as("sum_d2"))
      .select(col("n_users"), col("sum_d2"),
        round(lit(1e6) * (lit(1.0) -
          (lit(6L) * col("sum_d2")).cast("double") /
          (col("n_users") * (col("n_users") * col("n_users") - 1L))
            .cast("double"))).cast("long").as("spearman_micros"))
  }

  /** Gini coefficient of per-user total event value — the one-number
    * concentration audit (0 = perfectly even, →1 = one whale carries
    * everything) a marketplace or usage-billing pipeline tracks
    * release-over-release. Computed from the sorted-rank identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) with x ascending, i = 1..n.
    *
    * Scale shape: one user-keyed aggregation over events (map-side
    * combined), then a single rank window + final fold over the
    * USER-cardinality frame — the global sort ranks users, never
    * events. Determinism: values aggregate in exact cents; Σ i·x and
    * Σx are exact integer sums (rank ties broken by user_id, though
    * the identity's value is tie-order-independent for equal x); the
    * single IEEE divide runs on exact longs, micro-rounded. */
  def stat24Gini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    // rank over the user entity frame — scalable exact rank (no
    // single-partition sort; bit-equal, user_id tie-broken)
    Ranking.withGlobalRank(perUser, "i", "__n",
        Seq(col("cents").asc, col("user_id").asc))
      .agg(count(lit(1)).as("n_users"),
        sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("rank_weighted_cents"))
      .select(col("n_users"), col("total_cents"),
        round(lit(1e6) *
          (lit(2L) * col("rank_weighted_cents") -
            (col("n_users") + 1L) * col("total_cents")).cast("double") /
          (col("n_users") * col("total_cents")).cast("double"))
          .cast("long").as("gini_micros"))
  }

  /** `inc1_agg_merge` — incremental materialized-aggregate maintenance:
    * the monthly revenue rollup served from a PERSISTED base aggregate
    * (orders before `cutoff`, staged once per corpus fingerprint — the
    * materialized view) merged with a freshly aggregated delta (orders
    * on/after `cutoff` — the nightly batch), instead of re-scanning
    * history. The driver oracle is the FULL recompute over all orders,
    * so the hash check is a standing proof that the merge is lossless.
    *
    * Why it holds: every maintained measure is a mergeable partial —
    * DECIMAL sums merge exactly (no float reassociation), counts add,
    * min/max compose — the same algebra Spark's own partial
    * aggregation relies on. At 100 TB this is THE pattern for standing
    * rollups: the base agg is months × one row, the nightly work is
    * one scan of the delta partition (a pushed-down date filter) plus
    * a months-sized merge — history is never re-read. */
  def inc1AggMerge(s: SparkSession, dir: String,
                   cutoff: String = "2000-01-01"): DataFrame = {
    def agg(orders: DataFrame): DataFrame = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(dec(col("o_totalprice"))).as("rev_partial"),
        count(lit(1)).as("n_orders"),
        min(dec(col("o_totalprice"))).as("min_partial"),
        max(dec(col("o_totalprice"))).as("max_partial"))
    val base = Staging.base("inc_agg_v1", dir,
      cutoff.replaceAll("-", ""), "orders")
    Staging.buildOnce(base) {
      agg(Tables.orders(s, dir).filter(col("o_orderdate") < lit(cutoff)))
        .write.mode("overwrite").parquet(s"$base/data")
      ()
    }
    s.read.parquet(s"$base/data")
      .unionByName(agg(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit(cutoff))))
      .groupBy(col("month"))
      .agg(sum(col("rev_partial")).as("rev_merged"),
        sum(col("n_orders")).as("n_orders"),
        min(col("min_partial")).as("min_merged"),
        max(col("max_partial")).as("max_merged"))
      .select(col("month"),
        col("rev_merged").cast("double").as("revenue"),
        col("n_orders"),
        col("min_merged").cast("double").as("min_price"),
        col("max_merged").cast("double").as("max_price"))
  }

  /** `stat29_anova` — one-way ANOVA F-test: does mean lineitem
    * quantity differ across return flags? The variance-decomposition
    * sibling of stat11's two-sample t-test (k groups, one test —
    * instead of k(k−1)/2 pairwise t-tests at inflated α). F = (SSB/(k−1)) /
    * (SSW/(N−k)) with SSB = Σ_g S_g²/n_g − S²/N and SSW = SS_total −
    * Σ_g S_g²/n_g, all from ONE grouped pass collecting (n, Σx, Σx²)
    * per group — the textbook sufficient statistics.
    *
    * Scale shape: one map-side-combinable aggregation to k=3 rows,
    * then driver-free arithmetic on the tiny frame. Quantities are
    * exact cents longs (Σx and Σx² overflow-safe: cents ≤ 5000,
    * cents² ≤ 2.5e7, ×10¹⁰ rows still < 2⁶³); each group's S_g²/n_g
    * is one IEEE expression rounded to a cents² long before the
    * k-row INTEGER sum, so F is partition-order-independent. */
  def stat29Anova(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("l_quantity") * 100).cast("long")
    val grp = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"), cents.as("x"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x") * col("x")).as("ss_g"))
      .select(col("n_g"), col("s_g"), col("ss_g"),
        // per-group between-groups term, quantized to cents² longs
        round(col("s_g").cast("double") * col("s_g").cast("double") /
          col("n_g").cast("double")).cast("long").as("bterm"))
    grp.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"), sum(col("ss_g")).as("ss"),
        sum(col("bterm")).as("bsum"))
      .select(col("k"), col("n"),
        (col("bsum").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double")).as("ssb"),
        (col("ss").cast("double") - col("bsum").cast("double"))
          .as("ssw"))
      .select(col("k"), col("n"),
        round(col("ssb") / 1e4, 2).as("ssb_qty2"),
        round(col("ssw") / 1e4, 2).as("ssw_qty2"),
        round(lit(1e6) * (col("ssb") / (col("k") - 1L).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")))
          .cast("long").as("f_micros"))
  }

  /** `stat30_kendall` — Kendall's τ-b between daily order count and
    * daily revenue over one calendar year: the concordant/discordant-
    * pair sibling of stat27's Spearman (rank distance measures
    * monotone association only through rank VALUES; τ counts pair
    * ORDER inversions, the statistic behind "swap distance"). τ-b =
    * (C − D) / √((n₀−n_x)(n₀−n_y)) — the tie-corrected form, needed
    * here because small daily counts tie often.
    *
    * Scale shape: the pair join is over the DAILY series — bounded at
    * 365 rows BY CONSTRUCTION (one year), so the self-join is ≤ 66k
    * pairs regardless of corpus size; the series itself is one
    * map-side-combinable date rollup. The d1 < d2 predicate halves the
    * join; C/D/tie counts are exact integer sums. */
  def stat30Kendall(s: SparkSession, dir: String,
                    yr: Int = 1995): DataFrame = {
    val daily = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
      .localCheckpoint(true)
    val sgn = (a: Column, b: Column) =>
      when(a > b, 1).when(a < b, -1).otherwise(0)
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.day") < col("b.day"))
      .select(sgn(col("a.x"), col("b.x")).as("sx"),
        sgn(col("a.y"), col("b.y")).as("sy"))
    pairs.agg(count(lit(1)).as("n0"),
        sum(when(col("sx") * col("sy") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("sx") * col("sy") === -1, 1L).otherwise(0L)).as("d"),
        sum(when(col("sx") === 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ty"))
      .select(col("n0"), col("c"), col("d"), col("tx"), col("ty"),
        round(lit(1e6) * (col("c") - col("d")).cast("double") /
          sqrt(((col("n0") - col("tx")) * (col("n0") - col("ty")))
            .cast("double"))).cast("long").as("tau_b_micros"))
  }

  /** `stat31_permutation` — two-sample permutation test for the
    * urgent-vs-rest gap in mean order value, the exact-inference
    * sibling of stat11's parametric t-test (no normality assumption;
    * the null is "labels are exchangeeable"): re-label every order
    * under B pseudo-permutations, recompute the mean gap each time,
    * and report the share of permuted gaps at least as extreme as the
    * observed one (the add-one p estimator (1+#extreme)/(B+1), Davison
    * & Hinkley). The relabeling is the RANDOM-RELABELING null
    * (Bernoulli-½ labels rather than a global label shuffle — the
    * large-n equivalent, and the variant that needs no global sort),
    * derandomized the repo way: label_b(i) = md5_60("perm:b:okey") %
    * 2, a pure function of (b, row), so both engines draw identical
    * permutations.
    *
    * Scale shape: the B-fold expansion is an explode over a literal
    * sequence — B×N rows flow through ONE map-side-combinable
    * aggregation to B rows, then a 1-row broadcast comparison; no
    * shuffle carries more than B rows. Exact cents sums; each gap is
    * one IEEE expression rounded to micro-cents. */
  def stat31Permutation(s: SparkSession, dir: String,
                        nPerm: Int = 100): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderkey").as("okey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
        .as("y"))
    def gap(s1: Column, n1: Column, s0: Column, n0: Column): Column =
      round(lit(1e6) * (s1.cast("double") / n1.cast("double") -
        s0.cast("double") / n0.cast("double"))).cast("long")
    val obs = o.agg(
      sum(when(col("y") === 1, col("cents")).otherwise(0L)).as("s1"),
      sum(col("y")).as("n1"),
      sum(when(col("y") === 0, col("cents")).otherwise(0L)).as("s0"),
      sum(lit(1L) - col("y")).as("n0"))
      .select(col("n1"), col("n0"),
        gap(col("s1"), col("n1"), col("s0"), col("n0"))
          .as("gap_obs_micros"))
    val perm = o
      .select(col("okey"), col("cents"),
        explode(sequence(lit(0), lit(nPerm - 1))).as("b"))
      .withColumn("lbl", pmod(md5Base60(
        concat_ws("", lit("perm:"), col("b"), lit(":"), col("okey"))),
        lit(2L)))
      .groupBy(col("b"))
      .agg(
        sum(when(col("lbl") === 1, col("cents")).otherwise(0L)).as("s1"),
        sum(col("lbl")).as("n1"),
        sum(when(col("lbl") === 0, col("cents")).otherwise(0L)).as("s0"),
        sum(lit(1L) - col("lbl")).as("n0"))
      .select(col("b"),
        gap(col("s1"), col("n1"), col("s0"), col("n0")).as("gap_b"))
    perm.crossJoin(broadcast(obs))
      .agg(max(col("n1") + col("n0")).as("n_orders"),
        max(col("n1")).as("n_urgent"),
        max(col("gap_obs_micros")).as("gap_obs_micros"),
        count(lit(1)).as("n_perms"),
        sum(when(abs(col("gap_b")) >= abs(col("gap_obs_micros")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("n_orders"), col("n_urgent"), col("gap_obs_micros"),
        col("n_perms"), col("n_extreme"),
        round(lit(1e6) * (col("n_extreme") + 1L).cast("double") /
          (col("n_perms") + 1L).cast("double")).cast("long")
          .as("p_micros"))
  }

  /** `stat32_bh_fdr` — Benjamini–Hochberg false-discovery-rate control
    * (BH 1995) over one permutation test PER EVENT TYPE: weekend vs
    * weekday mean event value, [[stat31Permutation]]'s derandomized
    * Bernoulli-½ relabeling (B = `nPerm`), add-one p estimator. Running
    * m tests at α each inflates the family-wise false-positive mass;
    * BH is the standard step-up correction: sort p ascending, k* =
    * max{i : p_i ≤ i·α/m}, reject ranks ≤ k* — and because the
    * permutation p-values are exact rationals (k+1)/(B+1) in micro
    * space, the whole procedure is integer-exact, no CDF anywhere.
    *
    * Scale shape: the B×N row expansion folds through ONE map-side-
    * combinable (type, b) aggregation — only m·B cells shuffle; the
    * BH step-up runs windows over the m-row p-value frame (m = #event
    * types, tiny by construction). Output per type: observed gap,
    * p, BH rank, threshold, and the step-up rejection flag. */
  def stat32BhFdr(s: SparkSession, dir: String, nPerm: Int = 100,
                  alphaMicros: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(
      col("event_id").as("eid"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"),
      when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L).as("y"))
    def gap(s1: Column, n1: Column, s0: Column, n0: Column): Column =
      round(lit(1e6) * (s1.cast("double") / n1.cast("double") -
        s0.cast("double") / n0.cast("double"))).cast("long")
    val obs = e.groupBy(col("event_type")).agg(
      sum(when(col("y") === 1, col("cents")).otherwise(0L)).as("s1"),
      sum(col("y")).as("n1"),
      sum(when(col("y") === 0, col("cents")).otherwise(0L)).as("s0"),
      sum(lit(1L) - col("y")).as("n0"))
      .select(col("event_type"),
        gap(col("s1"), col("n1"), col("s0"), col("n0"))
          .as("gap_obs_micros"))
    val perm = e
      .select(col("eid"), col("event_type"), col("cents"),
        explode(sequence(lit(0), lit(nPerm - 1))).as("b"))
      .withColumn("lbl", pmod(md5Base60(
        concat_ws("", lit("bhf:"), col("b"), lit(":"), col("eid"))),
        lit(2L)))
      .groupBy(col("event_type"), col("b"))
      .agg(
        sum(when(col("lbl") === 1, col("cents")).otherwise(0L)).as("s1"),
        sum(col("lbl")).as("n1"),
        sum(when(col("lbl") === 0, col("cents")).otherwise(0L)).as("s0"),
        sum(lit(1L) - col("lbl")).as("n0"))
      .select(col("event_type"),
        gap(col("s1"), col("n1"), col("s0"), col("n0")).as("gap_b"))
    val pvals = perm.join(broadcast(obs), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("gap_obs_micros")).as("gap_obs_micros"),
        count(lit(1)).as("n_perms"),
        sum(when(abs(col("gap_b")) >= abs(col("gap_obs_micros")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("event_type"), col("gap_obs_micros"),
        round(lit(1e6) * (col("n_extreme") + 1L).cast("double") /
          (col("n_perms") + 1L).cast("double")).cast("long")
          .as("p_micros"))
    val all = Window.partitionBy(lit(1))
    val byP = all.orderBy(col("p_micros").asc, col("event_type").asc)
    pvals
      .withColumn("p_rank", row_number().over(byP).cast("long"))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("bh_thresh_micros",
        round(col("p_rank").cast("double") * alphaMicros /
          col("m").cast("double")).cast("long"))
      .withColumn("kstar", coalesce(
        max(when(col("p_micros") <= col("bh_thresh_micros"),
          col("p_rank"))).over(all), lit(0L)))
      .select(col("event_type"), col("gap_obs_micros"), col("p_micros"),
        col("p_rank"), col("bh_thresh_micros"),
        when(col("p_rank") <= col("kstar"), 1L).otherwise(0L)
          .as("rejected"))
  }

  /** `stat33_levene` — Brown–Forsythe heteroscedasticity test (Levene
    * 1960, median-centered per Brown & Forsythe 1974): are order-value
    * SPREADS equal across the five order priorities? stat29's ANOVA
    * compares means; this is the companion test its equal-variance
    * assumption rests on — one-way ANOVA run on the absolute
    * deviations z_ij = |x_ij − med_j| from each group's exact lower
    * median (the prof5/stat22 median convention, rank-pinned).
    *
    * Scale shape: the per-group median is one rank window per group
    * (the only sort; swap to approx_percentile at larger SF — the
    * fence semantics survive, the oracle convention doesn't); the
    * ANOVA tail is stat29's exact sufficient statistics — one
    * map-side-combinable group rollup, k = 5 cells. x is quantized to
    * whole DOLLARS (not cents) so Σz² stays long-safe past sf10;
    * ss accumulates in DECIMAL(38,0) anyway (the eval10 convention)
    * so even the 100 TB row count cannot overflow the sum. */
  def stat33Levene(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority").as("grp"), col("o_orderkey").as("okey"),
      round(col("o_totalprice")).cast("long").as("x"))
    val wG = Window.partitionBy(col("grp"))
    val med = o
      .withColumn("rn", row_number().over(wG
        .orderBy(col("x").asc, col("okey").asc)))
      .withColumn("n_g", count(lit(1)).over(wG))
      .filter(col("rn") === expr("(n_g + 1) div 2"))
      .select(col("grp"), col("x").as("med"))
    val z = o.join(broadcast(med), "grp")
      .select(col("grp"), abs(col("x") - col("med")).as("z"))
    val grp = z.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"), sum(col("z")).as("s_g"),
        sum((col("z") * col("z")).cast("decimal(38,0)")).as("ss_g"))
      .select(col("n_g"), col("s_g"), col("ss_g"),
        round(col("s_g").cast("double") * col("s_g").cast("double") /
          col("n_g").cast("double")).cast("long").as("bterm"))
    grp.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"),
        sum(col("ss_g")).as("ss"), sum(col("bterm")).as("bsum"))
      .select(col("k"), col("n"),
        (col("bsum").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("n").cast("double")).as("ssb"),
        (col("ss").cast("double") - col("bsum").cast("double"))
          .as("ssw"))
      .select(col("k"), col("n"),
        round(col("ssb") / 1e6, 2).as("ssb_mdollar2"),
        round(col("ssw") / 1e6, 2).as("ssw_mdollar2"),
        round(lit(1e6) * (col("ssb") / (col("k") - 1L).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")))
          .cast("long").as("f_micros"))
  }

  /** `stat42_levene_sketch` — the 100 TB face of [[stat33Levene]]'s
    * per-group median (the scaladoc'd swap stat33 owes): group centers
    * come from `approx_percentile` — per-partition Greenwald–Khanna
    * sketches of bounded size merged through one exchange — instead of
    * the exact rank window, so NOTHING data-sized is ever sorted
    * (PlanSpec asserts no Window/Sort in the plan). Brown–Forsythe is
    * robust to the center as long as it sits within the median's rank
    * neighborhood, which is exactly the GK guarantee; since the sketch
    * answers themselves are engine-specific, the portable output is
    * the stat28 contract — each group's center verified to sit within
    * rank n_g/2 ± n_g/accuracy by a map-side-combinable conditional
    * sum against the broadcast k-row center frame (a scan, never a
    * sort). A production caller composes the ANOVA tail of stat33 on
    * |x − center| unchanged. */
  def stat42LeveneSketch(s: SparkSession, dir: String,
                         acc: Int = 1000): DataFrame = {
    val o = Tables.orders(s, dir).select(
      col("o_orderpriority").as("grp"),
      round(col("o_totalprice")).cast("long").as("x"))
    val med = o.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"),
        expr(s"approx_percentile(x, 0.5D, $acc)").as("amed"))
    o.join(broadcast(med), "grp")
      .groupBy(col("grp"), col("n_g"), col("amed"))
      .agg(
        sum(when(col("x") < col("amed"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("x") <= col("amed"), 1L).otherwise(0L)).as("hi"))
      .select(col("grp"), col("n_g"),
        (col("lo") <= lit(0.5) * col("n_g") +
            col("n_g").cast("double") / acc &&
          col("hi") >= lit(0.5) * col("n_g") -
            col("n_g").cast("double") / acc).as("within_bound"))
  }

  /** `stat36_theil` — Theil-T inequality index of document length by
    * source, WITH its additive decomposition (Theil 1967): T =
    * Σ_g s_g·T_g (within) + Σ_g s_g·ln(s_g·n/n_g) (between), where
    * s_g is group g's share of total characters. This is the property
    * the Gini family (stat12/stat24) structurally lacks — Gini does
    * not decompose additively by subgroup, so "how much of corpus
    * length inequality is BETWEEN sources vs WITHIN them" (the
    * data-mixture budgeting question) needs Theil.
    *
    * Determinism: each per-doc term (x·n_g/X_g)·ln(x·n_g/X_g) is
    * micro-quantized before its group integer sum (the zipf/KM ln
    * convention); the k-row share/between terms quantize the same
    * way; every row carries the window-summed within/between/total so
    * the decomposition is readable per source. n_chars ≥ 1 in this
    * corpus, so ln never sees 0 (a zero-length doc would need the
    * x ln x → 0 continuity patch; guard documented, not needed).
    *
    * Scale shape: one broadcast k-row group-stats frame joined back
    * to the data (no shuffle before the group rollup — the join key
    * is the group), then k-row windows. */
  def stat36Theil(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("x"))
    val grp = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("x_g"))
    val tot = grp.agg(sum(col("n_g")).as("n"), sum(col("x_g")).as("xt"))
    val ratio = col("x").cast("double") * col("n_g").cast("double") /
      col("x_g").cast("double")
    val within = d.join(broadcast(grp), "source")
      .select(col("source"),
        round(lit(1e6) * ratio * log(ratio)).cast("long").as("term"))
      .groupBy(col("source")).agg(sum(col("term")).as("sum_term"))
    val share = col("x_g").cast("double") / col("xt").cast("double")
    val all = Window.partitionBy(lit(1))
    grp.join(within, "source").crossJoin(broadcast(tot))
      .select(col("source"), col("n_g"),
        round(lit(1e6) * share).cast("long").as("share_micros"),
        round(col("sum_term").cast("double") /
          col("n_g").cast("double")).cast("long").as("theil_g_micros"),
        round(share * col("sum_term").cast("double") /
          col("n_g").cast("double")).cast("long").as("within_micros"),
        round(lit(1e6) * share *
          log(share * col("n").cast("double") /
            col("n_g").cast("double"))).cast("long").as("between_micros"))
      .withColumn("total_within_micros",
        sum(col("within_micros")).over(all))
      .withColumn("total_between_micros",
        sum(col("between_micros")).over(all))
      .withColumn("theil_total_micros",
        col("total_within_micros") + col("total_between_micros"))
  }

  /** `stat37_wilcoxon` — Wilcoxon signed-rank test on the paired
    * per-user (first-half, second-half) purchase cents (ev27_cuped's
    * pair definition, shared deliberately): the nonparametric twin of
    * a paired t-test — stat34's McNemar handles paired BINARY
    * outcomes, this handles paired CONTINUOUS ones without a
    * normality assumption. Zero differences drop (Wilcoxon's rule);
    * |d| gets AVERAGE ranks, carried as exact integers by the doubled-
    * rank identity avg_rank × 2 = 2·min_rank + tie_count − 1 (the
    * same device both engines compute from rank() + a partition
    * count, no fractional ranks anywhere). W⁺ is the doubled rank sum
    * over positive differences; z uses the tie-corrected variance
    * n(n+1)(2n+1)/24 − Σ(t³−t)/48, assembled as one integer
    * (2n(n+1)(2n+1) − Σ(t³−t)) before the single sqrt, so the only
    * doubles are the final quantized ratio.
    *
    * Scale shape: one user-keyed aggregation over events (map-side
    * combined), then a rank window over the USER-cardinality
    * difference frame — the rfm/ntile argument: at 100 TB of events
    * the user frame is the small one, and an exact rank test is BY
    * DEFINITION a global ranking. Σ(t³−t) accumulates as longs
    * (t ≤ n ≤ user count; fine to ~2M users, then DECIMAL — the
    * stat29 convention would apply). */
  def stat37Wilcoxon(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val d0 = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(when(dayofmonth(col("ts")) <= 15, cents).otherwise(0L))
          .as("x"),
        sum(when(dayofmonth(col("ts")) > 15, cents).otherwise(0L))
          .as("y"))
      .select((col("y") - col("x")).as("d"),
        abs(col("y") - col("x")).as("ad"))
      .filter(col("d") =!= 0L)
      // feeds the |d| histogram AND the midrank join-back
      .localCheckpoint(true)
    // doubled midranks from the |d| HISTOGRAM (the stat13
    // Mann–Whitney device): rank() over ad = cum_prev + 1 and the tie
    // count = t both come from one cumulative window over the
    // DOMAIN-sized distinct-|d| frame, so
    // r2 = 2·mr + cnt − 1 = 2·cum_prev + t + 1 — the row-level
    // entity-sized rank window is gone, and the same histogram folds
    // the tie-correction sum.
    val adHist = d0.groupBy(col("ad")).agg(count(lit(1)).as("t"))
    val adCum = adHist.withColumn("cum_prev",
      coalesce(sum(col("t")).over(Window.orderBy(col("ad"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = d0.join(adCum, "ad")
      .select(col("d"),
        (lit(2L) * col("cum_prev") + col("t") + 1L).as("r2"))
    val ties = adHist
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
        lit(0L)).as("tsum"))
    ranked.agg(count(lit(1)).as("n"),
        sum(when(col("d") > 0, col("r2")).otherwise(0L)).as("w2_plus"))
      .crossJoin(broadcast(ties))
      .select(col("n"), col("w2_plus"), col("tsum"),
        round(lit(1e6) *
          (col("w2_plus") - expr("n * (n + 1) DIV 2")).cast("double") /
          (lit(2.0) * sqrt(
            (lit(2L) * col("n") * (col("n") + 1L) *
              (lit(2L) * col("n") + 1L) - col("tsum")).cast("double") /
            lit(48.0)))).cast("long").as("z_micros"))
  }

  /** `inc2_cdc_collapse` — CDC net-effect compaction (the Debezium /
    * Delta change-feed collapse): a checkpoint-window change log with
    * multiple operations per key folds to ONE net operation —
    * insert+…+delete ⇒ nothing (the key never existed downstream),
    * insert+updates ⇒ insert-with-final-image, updates-only ⇒
    * update-with-final-image, trailing delete without a window-local
    * insert ⇒ delete. This is the operator that keeps a 100 TB
    * MERGE target write proportional to the NET key set, not the log
    * volume. The log derives from orders md5-deterministically (an
    * optional window-local insert, 0–2 updates shifting the price,
    * a 1-in-10 delete) so both engines synthesize the identical log.
    *
    * Scale shape: one generate-side projection explodes each order
    * into its ≤4 log rows, then ONE key-partitioned window pass
    * (min/max seq, last image) and a net-op-sized rollup — the same
    * shuffle budget as the merge it feeds. All-integer cents. */
  def inc2CdcCollapse(s: SparkSession, dir: String): DataFrame =
    cdcNet(s, dir)
      .groupBy(col("net_op"))
      .agg(count(lit(1)).as("n_keys"), sum(col("n_ops")).as("n_log_rows"),
        sum(coalesce(col("net_price"), lit(0L))).as("sum_price_cents"))

  /** The synthesized change log of [[inc2CdcCollapse]], exposed for
    * the streaming parity spec: (key, seq, op, price) rows. */
  def cdcLog(s: SparkSession, dir: String): DataFrame = {
    def h(tag: String): Column = pmod(md5Base60(
      concat(lit(s"cdc:$tag:"), col("o_orderkey"))), lit(1000000L))
    val base = Tables.orders(s, dir).select(col("o_orderkey").as("key"),
      round(col("o_totalprice") * 100).cast("long").as("p0"),
      (h("i") % 2 === 0).as("has_ins"),
      (h("u") % 3).cast("int").as("n_upd"),
      (h("d") % 10 === 0).as("has_del"))
    // flag-driven slices keep every branch the same struct array type
    // (a bare array() would be array<null> and break the concat)
    val ops = base.select(col("key"), explode(concat(
      slice(array(struct(lit(1L).as("seq"), lit("insert").as("op"),
          col("p0").as("price"))), lit(1),
        when(col("has_ins"), 1).otherwise(0)),
      slice(array(
        struct(lit(2L).as("seq"), lit("update").as("op"),
          (col("p0") + 1L).as("price")),
        struct(lit(3L).as("seq"), lit("update").as("op"),
          (col("p0") + 2L).as("price"))), lit(1), col("n_upd")),
      slice(array(struct(lit(9L).as("seq"), lit("delete").as("op"),
          lit(null).cast("long").as("price"))), lit(1),
        when(col("has_del"), 1).otherwise(0))))
      .as("e"))
      .select(col("key"), col("e.seq"), col("e.op"), col("e.price"))
    ops
  }

  /** Per-key net effect of [[cdcLog]] — the frame the streaming twin
    * must reproduce exactly (EventStreamsSpec pins parity). */
  def cdcNet(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("seq"))
    cdcLog(s, dir)
      .withColumn("first_op", first(col("op")).over(w))
      .withColumn("last_op", last(col("op")).over(
        w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("last_price", last(col("price"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .groupBy(col("key"), col("first_op"), col("last_op"),
        col("last_price"))
      .agg(count(lit(1)).as("n_ops"))
      .select(col("key"), col("n_ops"),
        when(col("first_op") === "insert" && col("last_op") === "delete",
          "none")
          .when(col("first_op") === "insert", "insert")
          .when(col("last_op") === "delete", "delete")
          .otherwise("update").as("net_op"),
        when(col("last_op") =!= "delete", col("last_price"))
          .otherwise(lit(null).cast("long")).as("net_price"))
  }
}
