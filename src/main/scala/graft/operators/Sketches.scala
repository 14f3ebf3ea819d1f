package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Count-min sketch over the token stream — the fixed-memory frequency
  * summary that complements the engine's other sketches (HLL distinct
  * in stat2/stat6, Misra-Gries heavy hitters in text_heavy_hitters,
  * bloom membership in dedup_incremental): point-queryable count
  * ESTIMATES with a one-sided (over-count only) error of at most
  * εN, ε = e/width, in d×w integers of state regardless of corpus
  * size.
  *
  * Determinism: the d row-hashes derive from the engine's md5-60
  * bridge (`md5_base60('cms<i>_' || token) mod w`) — the same
  * seeded-digest discipline as MinHash/SimHash, so any engine (and the
  * DuckDB oracle) rebuilds the identical cell grid; every cell value is
  * an integer count.
  *
  * Scale shape: the sketch build is ONE hash-aggregate — tokens leave
  * the mappers only as (row, bucket) int pairs with map-side partial
  * sums, and the reduced state is d·w rows total (1 024 here) no matter
  * the corpus. That inversion — state sized by the SKETCH, not the
  * vocabulary — is the whole point at 100 TB: the exact token
  * `groupBy` used by the probe face below would carry the vocabulary
  * through the shuffle, the sketch never does. Per-executor partial
  * grids union by cell-wise addition (count-min is a commutative
  * monoid), which is exactly what the partial-agg already does.
  */
object Sketches {

  val Depth = 4
  val Width = 256

  /** One (row, bucket) cell per token occurrence, d rows per token. */
  private def cells(token: Column): Column = explode(array(
    (0 until Depth).map { i =>
      struct(lit(i.toLong).as("r"),
        pmod(md5Base60(concat(lit(s"cms${i}_"), token)),
          lit(Width.toLong)).as("b"))
    }: _*))

  private def tokenStream(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens(lower(col("text"))))
        .as("token"))

  /** The materialized sketch grid: (row_id, bucket, n) for every
    * non-empty cell. */
  def cmsSketch(s: SparkSession, dir: String): DataFrame =
    tokenStream(s, dir)
      .select(cells(col("token")).as("c"))
      .groupBy(col("c.r").as("row_id"), col("c.b").as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Probe face: estimate the ten most frequent tokens through the
    * sketch and report the one-sided error against the exact counts.
    * The exact `groupBy(token)` here exists only to pick probes and
    * grade the estimate — a production pipeline probes the d·w grid
    * directly with its query keys (the top frame is broadcast;
    * `est ≥ true` always, by the count-min bound). */
  def cmsEstimates(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenStream(s, dir)
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("token").asc)
      .limit(10)
    val probes = broadcast(top)
      .select(col("token"), col("true_count"), cells(col("token")).as("c"))
      .select(col("token"), col("true_count"),
        col("c.r").as("row_id"), col("c.b").as("bucket"))
    cmsSketch(s, dir)
      .join(probes, Seq("row_id", "bucket"))
      .groupBy(col("token"), col("true_count"))
      .agg(min(col("n")).as("est_count"))
      .select(col("token"), col("true_count"), col("est_count"),
        (col("est_count") - col("true_count")).as("overcount"))
  }

  /** Approximate-quantile CONTRACT check (the stat2-HLL pattern for
    * order statistics): Spark's `approx_percentile` (Greenwald–Khanna,
    * mergeable partials — the 100 TB quantile plan) runs beside the
    * exact `percentile`, and the report pins the PORTABLE contract —
    * the exact quantiles in cents plus a flag that each approximate
    * answer's rank window overlaps the target rank ± n/accuracy. The
    * sketch's internal answers are engine-specific and never leave the
    * query; a GK regression flips the flag and fails the hash check.
    *
    * The exact half no longer buffers the column: it is computed from
    * a domain-sized cents histogram (cumulative counts over distinct
    * values) with Spark's own interpolation expression replayed on
    * top — bit-equal to the `percentile` aggregate it replaced, but
    * every stage is a bounded partial ahead of one exchange, so the
    * face is servable at scale, not just a gate-SF validation. The
    * pure-sketch serving face remains [[approxQuantilesSketchOnly]] /
    * the stat28 contract.
    *
    * Scale shape: one (cents → count) rollup + one GK-sketch scan;
    * the four rank windows fold as conditional sums over the SAME
    * histogram against the broadcast 4-row frame. Values
    * micro-quantize to cents, so the exact quantile interpolation
    * lands on exact binary fractions (ml5 precedent). */
  /** The PRODUCTION quantile path stat20 validates: `approx_percentile`
    * alone — per-partition GK sketches of bounded size (~accuracy
    * entries) merge through ONE exchange; no exact percentile, no
    * full-column buffering, nothing data-sized crosses the wire.
    * PlanSpec asserts exactly one exchange with a partial sketch
    * aggregate below it. */
  def approxQuantilesSketchOnly(s: SparkSession, dir: String,
                                acc: Int = 1000): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val qArr = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
    Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("m"))
      .agg(count(lit(1)).as("n_rows"),
        expr(s"approx_percentile(m, $qArr, $acc)").as("apx"))
      .select(col("n_rows"),
        posexplode(col("apx")).as(Seq("qi", "apx_cents")))
      .select(element_at(array(qs.map(lit): _*), col("qi").cast("int") + 1)
          .as("q"),
        col("n_rows"), col("apx_cents"))
  }

  /** Portable contract check for [[approxQuantilesSketchOnly]] — the
    * driver face of stat28. The GK answers themselves are
    * engine-specific bytes and never leave the query; what IS portable
    * is the sketch's rank guarantee (each answer's rank window overlaps
    * the target rank ± n/accuracy), so the output is the boolean
    * contract per quantile and the oracle asserts `true` against the
    * exact ranks (the stat20 device). Unlike stat20 this face keeps
    * the production scale shape: NO exact `percentile` aggregate
    * anywhere — the validation scan is a map-side-combinable
    * conditional sum against the broadcast 4-row sketch frame, so
    * both stages are bounded-size-partials ahead of one exchange. */
  def approxQuantilesSketchContract(s: SparkSession, dir: String,
                                    acc: Int = 1000): DataFrame = {
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val m = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("m"))
    val perQ = approxQuantilesSketchOnly(s, dir, acc)
    m.crossJoin(broadcast(perQ))
      .groupBy(col("q"), col("n_rows"), col("apx_cents"))
      .agg(
        sum(when(col("m") < col("apx_cents"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("m") <= col("apx_cents"), 1L).otherwise(0L)).as("hi"))
      .select(col("q"), col("n_rows"),
        (col("lo") <= col("q") * col("n_rows") +
            col("n_rows").cast("double") / acc &&
          col("hi") >= col("q") * col("n_rows") -
            col("n_rows").cast("double") / acc).as("within_bound"))
  }

  def approxQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val acc = 1000
    val m = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("m"))
    val qArr = qs.map(q => s"${q}D").mkString("array(", ", ", ")")
    // The exact side used to be Spark's `percentile` — a
    // memory-unbounded aggregate buffering the whole column. It is now
    // the DOMAIN-histogram device (the stat22/stat41 convention): one
    // map-side-combinable (cents → count) rollup, a cumulative window
    // over the ≤ distinct-cents frame, and Spark's own interpolation
    // formula — value(r) = min cents with cum ≥ r+1 at the 0-based
    // ranks floor/ceil of position = (n−1)·q, then
    // (higher−pos)·v_lo + (pos−lower)·v_hi, the exact IEEE expression
    // Percentile.getPercentile evaluates — so the output is bit-equal
    // to the old aggregate (and to the oracle's quantile_cont) while
    // every stage is bounded-partial ahead of one exchange. The
    // rank-contract check folds over the same histogram.
    val hist = m.groupBy(col("m")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("m"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val one = m.agg(
      count(lit(1)).as("n_rows"),
      expr(s"approx_percentile(m, $qArr, $acc)").as("apx"))
    val qf = one.select(col("n_rows"),
        posexplode(col("apx")).as(Seq("qi", "apx_cents")))
      .withColumn("q",
        element_at(array(qs.map(lit): _*), col("qi").cast("int") + 1))
      .withColumn("pos", (col("n_rows") - 1L).cast("double") * col("q"))
      .withColumn("rlo", floor(col("pos")).cast("long"))
      .withColumn("rhi", ceil(col("pos")).cast("long"))
    // ONE pass over (histogram × broadcast 4-row quantile frame) folds
    // the floor/ceil order-statistic lookups AND the rank-contract
    // counts together, so the histogram is consumed exactly once
    val folded = hist.crossJoin(broadcast(qf))
      .groupBy(col("qi"), col("q"), col("n_rows"), col("apx_cents"),
        col("pos"), col("rlo"), col("rhi"))
      .agg(
        min(when(col("cum") >= col("rlo") + 1L, col("m"))).as("v_lo"),
        min(when(col("cum") >= col("rhi") + 1L, col("m"))).as("v_hi"),
        sum(when(col("m") < col("apx_cents"), col("c")).otherwise(0L))
          .as("lo"),
        sum(when(col("m") <= col("apx_cents"), col("c")).otherwise(0L))
          .as("hi"))
    folded
      .withColumn("exact_cents",
        when(col("rhi") === col("rlo"), col("v_lo").cast("double"))
          .otherwise(
            (col("rhi").cast("double") - col("pos")) *
              col("v_lo").cast("double") +
            (col("pos") - col("rlo").cast("double")) *
              col("v_hi").cast("double")))
      .select(col("q"), col("n_rows"), col("exact_cents"),
        (col("lo") <= col("q") * col("n_rows") +
            col("n_rows").cast("double") / acc &&
          col("hi") >= col("q") * col("n_rows") -
            col("n_rows").cast("double") / acc).as("within_bound"))
  }
}
