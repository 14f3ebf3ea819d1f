package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Spatial operators — the grid-cell bucketed candidate-join family.
  *
  * The reference's data model carries OSM node coordinates (pos:
  * [lat, lon], openstreet_kolkata.py shape_element) but never joins on
  * them; any engine serving that corpus at scale needs the spatial
  * join the reference stops short of: "pairs of points within radius
  * r" and "k nearest neighbors". Both are quadratic done naively; the
  * scale shape is the SAME candidate-generation pattern graft's dedup
  * family uses (bucket equi-join + exact verify — Dedup.prefixFilter,
  * Similarity.nearDupLsh), instantiated geometrically: snap each point
  * to an r-sized grid cell, equi-join each point's 3×3 neighbor-cell
  * stencil against cell assignments, verify with the EXACT distance
  * predicate. Every pair within r is found exactly once (a pair (a,b)
  * matches only where a's stencil covers b's single home cell), so the
  * all-pairs join is the oracle and hash-equality is a standing
  * losslessness proof — the prefix-filter convention.
  *
  * Coordinates are INTEGER micro-units derived from the md5-60 kernel
  * (functions.Md5Base) over salted customer keys — deterministic,
  * engine-reproducible (the DuckDB oracle replays the same hex
  * arithmetic), and all distance math stays in BIGINT (squared
  * distances < 2e16 ≪ Long.Max): no floating-point comparison
  * anywhere, so membership can never drift between engines.
  *
  * At 100 TB: cell assignment is a narrow stateless map; the stencil
  * join shuffles on the cell key, so each cell's candidate work is
  * local to its bucket (skew = dense cells, handled like any hot key:
  * AQE skew-join or splitting cells below r). The kNN face broadcasts
  * the query set — queries are model-sized, the corpus side stays a
  * scan.
  */
object Spatial {

  /** Domain size in micro-units (coordinates live in [0, 1e8) — i.e.
    * [0, 100) units at 1e6 micro per unit). */
  val DomainMicros: Long = 100000000L

  private def coord(salt: String): Column =
    pmod(md5Base60(
      concat(lit(salt), col("c_custkey").cast("string"))),
      lit(DomainMicros))

  /** Deterministic point cloud: one (id, x, y) per customer, micro-unit
    * integer coordinates hashed from the salted key. */
  def points(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .select(col("c_custkey").as("id"),
        coord("x:").as("x"), coord("y:").as("y"))
  }

  private def dist2(ax: Column, ay: Column, bx: Column, by: Column): Column =
    (ax - bx) * (ax - bx) + (ay - by) * (ay - by)

  /** All point pairs within `rMicros`, via the grid-cell stencil join.
    * Exactly the all-pairs result (shared oracle = the quadratic SQL),
    * computed with a bucketed equi-join: side A explodes to its 3×3
    * neighbor cells, side B sits in its home cell, the join key is the
    * cell, and the exact integer predicate keeps true neighbors. Pair
    * (a, b) is emitted once — b's home cell is unique and a's nine
    * stencil cells are distinct — so no dedup pass is needed. */
  def radiusPairs(s: SparkSession, dir: String,
                  rMicros: Long = 2000000L): DataFrame =
    pairsWithin(points(s, dir), rMicros)

  /** The grid-stencil radius join over an arbitrary (id, x, y) frame —
    * shared by [[radiusPairs]] (full cloud) and [[dbscan]] (capped
    * cloud). */
  private def pairsWithin(p: DataFrame, rMicros: Long): DataFrame = {
    val cellx = floor(col("x") / rMicros)
    val celly = floor(col("y") / rMicros)
    val home = p.select(col("id").as("id_b"), col("x").as("bx"),
      col("y").as("by"), cellx.as("cx"), celly.as("cy"))
    val stencil = p.select(col("id").as("id_a"), col("x").as("ax"),
        col("y").as("ay"), cellx.as("hx"), celly.as("hy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id_a"), col("ax"), col("ay"),
        (col("hx") + col("dx")).as("cx"), (col("hy") + col("dy")).as("cy"))
    stencil.join(home, Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .filter(dist2(col("ax"), col("ay"), col("bx"), col("by"))
        <= lit(rMicros * rMicros))
      .select(col("id_a"), col("id_b"),
        dist2(col("ax"), col("ay"), col("bx"), col("by")).as("dist2"))
  }

  /** Grid-bounded approximate kNN — the scale face of [[knnJoin]]
    * (exact/bounded dichotomy, same contract as the ANN family's
    * brute/LSH split): neighbors are ranked only among CANDIDATES from
    * the query's 3×3 cell stencil, so the corpus-side work is an
    * equi-join on the cell key instead of a broadcast full scan. A true
    * neighbor farther than one cell away is missed by construction —
    * the oracle replays the SAME stencil restriction (candidates-only
    * contract), and [[knnJoin]] is the exact reference the recall
    * conversation happens against. Queries with fewer than k stencil
    * candidates emit fewer rows. */
  def gridKnn(s: SparkSession, dir: String, k: Int = 5,
              rMicros: Long = 2000000L): DataFrame = {
    val p = points(s, dir)
    val cellx = floor(col("x") / rMicros)
    val celly = floor(col("y") / rMicros)
    val home = p.select(col("id"), col("x"), col("y"),
      cellx.as("cx"), celly.as("cy"))
    val q = home.filter(pmod(col("id"), lit(150L)) === 7L &&
        col("id") < 15000L)
      .select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"),
        col("cx").as("hx"), col("cy").as("hy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("qid"), col("qx"), col("qy"),
        (col("hx") + col("dx")).as("cx"), (col("hy") + col("dy")).as("cy"))
    home.join(broadcast(q), Seq("cx", "cy"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        dist2(col("qx"), col("qy"), col("x"), col("y")).as("dist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("dist2").asc, col("id").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("dist2"),
        col("rn").cast("long").as("knn_rank"))
  }

  /** Spatial histogram: point count per r-sized grid cell, densest 15
    * cells (ties broken on cell coordinates). The "where is the data"
    * profile a partitioner reads before choosing cell sizes. */
  def cellDensity(s: SparkSession, dir: String,
                  rMicros: Long = 2000000L): DataFrame =
    points(s, dir)
      .groupBy(floor(col("x") / rMicros).as("cx"),
        floor(col("y") / rMicros).as("cy"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy(col("n_points").desc, col("cx").asc, col("cy").asc)
      .limit(15)

  /** `geo7_gi_star` — Getis–Ord Gi* hotspot detection over the grid
    * cells (Getis & Ord 1992, the ArcGIS "Hot Spot Analysis"
    * statistic): for every non-empty cell, z-score the 3×3-stencil
    * neighborhood count sum S_i against its expectation under the
    * global cell distribution — Gi* = (S_i − W_i·x̄) /
    * (s·√((N·W_i − W_i²)/(N−1))) with W_i = the number of EXISTING
    * cells in the stencil (sparse-grid convention: empty cells are not
    * in the universe). geo2 ranks raw density; Gi* asks whether a
    * cell's NEIGHBORHOOD is anomalously dense given the whole map —
    * the statistically-calibrated hotspot list.
    *
    * Determinism: S_i, W_i, N, Σn, Σn² are exact integers; the single
    * double expression tree is mirrored in the oracle and the output
    * micro-quantizes. Cells with zero global variance are filtered by
    * the exact integer predicate N·Σn² − (Σn)² > 0 before any divide.
    *
    * Scale shape: one map-side-combinable rollup of the point cloud to
    * the cell domain, then everything is cell-domain-sized — a 9-way
    * offset explode + equi-join on the cell key (the radiusPairs
    * stencil device), one broadcast 1-row stats frame, and a
    * TakeOrderedAndProject top-K. */
  def giStar(s: SparkSession, dir: String, rMicros: Long = 2000000L,
             topK: Int = 10): DataFrame = {
    // the ≤ topK-row result materializes inside the scope
    Staging.scratch(s) {
      val cells = points(s, dir)
        .groupBy(floor(col("x") / rMicros).cast("long").as("cx"),
          floor(col("y") / rMicros).cast("long").as("cy"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true) // feeds stencil both sides + global stats
      val offs = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
        struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
      val hood = cells
        .select(explode(offs).as("o"), col("cx"), col("cy"), col("n"))
        .select((col("cx") + col("o.dx")).as("tx"),
          (col("cy") + col("o.dy")).as("ty"), col("n"))
        .groupBy(col("tx"), col("ty"))
        .agg(sum(col("n")).as("s_sum"), count(lit(1)).as("w_cells"))
      val tot = broadcast(cells.agg(count(lit(1)).as("nc"),
        sum(col("n")).as("sn"), sum(col("n") * col("n")).as("sn2")))
      val ncD = col("nc").cast("double")
      val wD = col("w_cells").cast("double")
      val mean = col("sn").cast("double") / ncD
      val sd = sqrt(col("sn2").cast("double") / ncD - mean * mean)
      val den = sd * sqrt((ncD * wD - wD * wD) / (ncD - lit(1.0)))
      Staging.materializedLocal(cells
        .join(hood, col("cx") === col("tx") && col("cy") === col("ty"))
        .crossJoin(tot)
        .filter(col("nc") > 1L &&
          col("nc") * col("sn2") - col("sn") * col("sn") > 0L)
        .select(col("cx"), col("cy"), col("n").as("n_points"),
          col("w_cells"), col("s_sum"),
          round(lit(1e6) * ((col("s_sum").cast("double") - wD * mean) /
            den)).cast("long").as("gi_micros"))
        .orderBy(col("gi_micros").desc, col("cx").asc, col("cy").asc)
        .limit(topK), topK)
    }
  }

  /** k nearest neighbors for each query point (customers with
    * custkey ≡ 7 mod 150 — a deterministic model-sized query set):
    * broadcast the queries, scan the corpus once, rank by squared
    * integer distance with id tie-breaks. The exact in-session face;
    * [[knnJoinIndexed]] serves the same rows from a persisted
    * cell-bucketed point index, graded by the same oracle. */
  def knnJoin(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val p = points(s, dir)
    // the query set is MODEL-SIZED by construction (capped id range) so
    // the exact face's O(Q·N) broadcast scan stays linear in the
    // corpus at any scale — the sf1 soak showed the uncapped set
    // growing Q with N and turning this face quadratic
    val q = p.filter(pmod(col("id"), lit(150L)) === 7L &&
        col("id") < 15000L)
      .select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"))
    val ranked = p.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        dist2(col("qx"), col("qy"), col("x"), col("y")).as("dist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("dist2").asc, col("id").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("dist2"),
        col("rn").cast("long").as("knn_rank"))
    ranked
  }

  /** EXACT kNN served from a PERSISTED cell-bucketed point index — the
    * geo twin of `TextAnalysis.bm25Indexed`'s "index once, query many"
    * path, and the serving fix for [[knnJoin]]'s O(Q·N) broadcast scan
    * (whose window ranks Q·N candidate rows: the 2.9× sf1 soak
    * constant). The index stages, once per corpus fingerprint:
    * (a) the point cloud PARTITIONED by `pcell` (5×5 blocks of g-sized
    * grid cells — ≤ 100 directories at any SF, since the cell domain
    * is fixed by DomainMicros/g, not by row count), with the fine
    * `cell` id riding along for parquet min/max skipping; (b) a
    * per-cell count sidecar (≤ (Domain/g)² = 2,500 rows — bounded by
    * GEOMETRY, constant in corpus size); (c) the model-sized query
    * point list.
    *
    * Query path: collect the two bounded sidecars, then for EACH query
    * run the textbook exact ring expansion DRIVER-SIDE over cell
    * counts (≤ 2,500 × Q integer ops): take non-empty cells in
    * increasing exact min-distance until they hold ≥ k+1 points (+1
    * absorbs the query's own corpus row), bound the kth-NN distance by
    * the max far-corner distance D² of the taken cells, and keep every
    * cell with minDist² ≤ D² — a candidate set that provably contains
    * all true top-k (any point outside is farther than k already-seen
    * points). The distributed read then carries a STATIC IN-filter on
    * the partition column (only candidate pcell directories are
    * touched) plus the fine cell IN-filter (row-group skipping), and
    * the equi-join on `cell` against the broadcast (qid, cell)
    * candidate list replaces the Q·N nested loop — the window ranks
    * ~Q·k·ring rows instead of Q·N. Bit-equal to [[knnJoin]]
    * (Round11Spec pin); graded against the SAME oracle SQL.
    *
    * All distance math is exact BIGINT (coords < 1e8 ⇒ dist² < 2e16),
    * including the driver-side ring bounds — no float drift between
    * the pruning decision and the distributed predicate. */
  def knnJoinIndexed(s: SparkSession, dir: String, k: Int = 5,
                     g: Long = 2000000L): DataFrame = {
    // ceil, not floor: coords reach DomainMicros-1, so with a g that
    // does not divide the domain a floor'd axis count would collide
    // cell ids across rows (cx reaches floor((Domain-1)/g) inclusive)
    // and the pcell decode below would prune TRUE neighbors' partitions
    val cellsPerAxis = ((DomainMicros + g - 1) / g).toInt // 50 at default g
    // the 5x5 pcell block layout uses a fixed x20 row stride, which is
    // collision-free only while the axis holds <= 100 cells
    require(g >= 1000000L && g <= DomainMicros,
      s"g=$g outside the supported range [1e6, $DomainMicros] for the " +
        "fixed 5x5/x20 pcell layout")
    // v2: the cellsPerAxis floor→ceil fix above changes the staged
    // `cell` ids whenever g does not divide DomainMicros, so any v1
    // artifact built before the fix could serve stale cell ids for a
    // non-default g (at the default g=2e6 the content is byte-identical
    // — the bump buys correctness for the non-dividing case, at the
    // cost of one rebuild of identical bytes at the default)
    val base = Staging.base("geo_knn_index_v2", dir, s"g$g", "customer")
    Staging.buildOnce(base) {
      val p = points(s, dir)
        .withColumn("cx", floor(col("x") / g).cast("long"))
        .withColumn("cy", floor(col("y") / g).cast("long"))
        .withColumn("cell", col("cx") * cellsPerAxis + col("cy"))
        .withColumn("pcell", floor(col("cx") / 5L) * 20L +
          floor(col("cy") / 5L))
      p.write.mode("overwrite").partitionBy("pcell")
        .parquet(s"$base/points")
      p.groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/cells")
      p.filter(pmod(col("id"), lit(150L)) === 7L && col("id") < 15000L)
        .select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/qpoints")
    }
    // both sidecars are bounded by construction (geometry / the query
    // id cap), so the collects are model-sized at any corpus scale
    val cellRows = s.read.parquet(s"$base/cells").collect()
      .map(r => (r.getAs[Long]("cx"), r.getAs[Long]("cy"),
        r.getAs[Long]("n")))
    require(cellRows.length <= cellsPerAxis * cellsPerAxis,
      "cell sidecar exceeded the geometric bound")
    val qRows = s.read.parquet(s"$base/qpoints").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("qx"),
        r.getAs[Long]("qy")))
    def axisGap(q: Long, c: Long): Long = { // 0 inside the cell's span
      val lo = c * g; val hi = lo + g - 1
      if (q < lo) lo - q else if (q > hi) q - hi else 0L
    }
    def axisFar(q: Long, c: Long): Long = { // to the farther edge
      val lo = c * g; val hi = lo + g - 1
      math.max(math.abs(q - lo), math.abs(q - hi))
    }
    val cand: Seq[(Long, Long, Long, Long)] = qRows.toSeq.flatMap {
      case (qid, qx, qy) =>
        val byMin = cellRows.map { case (cx, cy, n) =>
          val mn = { val dx = axisGap(qx, cx); val dy = axisGap(qy, cy)
            dx * dx + dy * dy }
          val mx = { val dx = axisFar(qx, cx); val dy = axisFar(qy, cy)
            dx * dx + dy * dy }
          (cx, cy, n, mn, mx)
        }.sortBy { case (cx, cy, _, mn, _) => (mn, cx, cy) }
        var acc = 0L; var d2 = Long.MaxValue; var i = 0
        // ≥ k+1 points within max-corner distance d2 ⇒ the true kth-NN
        // (self excluded) is no farther than d2
        while (i < byMin.length && acc <= k.toLong) {
          acc += byMin(i)._3
          if (acc > k.toLong) d2 = byMin.take(i + 1).map(_._5).max
          i += 1
        }
        byMin.filter(_._4 <= d2).map { case (cx, cy, _, _, _) =>
          (qid, qx, qy, cx * cellsPerAxis + cy) }
    }
    import s.implicits._
    val candDf = cand.toDF("qid", "qx", "qy", "cell")
    val candCells = cand.map(_._4).distinct.sorted
    val candPcells = candCells
      .map(c => (c / cellsPerAxis / 5L) * 20L + (c % cellsPerAxis) / 5L)
      .distinct.sorted
    s.read.parquet(s"$base/points")
      .filter(col("pcell").isin(candPcells: _*)) // static partition prune
      .filter(col("cell").isin(candCells: _*))   // row-group skipping
      .join(broadcast(candDf), "cell")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        dist2(col("qx"), col("qy"), col("x"), col("y")).as("dist2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("dist2").asc, col("id").asc)))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("dist2"),
        col("rn").cast("long").as("knn_rank"))
  }

  /** `geo5_dbscan` — DBSCAN density clustering over the point cloud
    * (Ester et al. 1996): a point with ≥ `minPts` neighbors within `r`
    * (itself included) is CORE; core points within `r` of each other
    * share a cluster (connected components over the core-core radius
    * graph, min-id labels); a non-core point within `r` of a core is a
    * BORDER member of its smallest-labelled core neighbor's cluster;
    * everything else is NOISE (cluster −1).
    *
    * Scale shape: the ε-neighbor graph comes from the SAME grid-cell
    * stencil join as [[radiusPairs]] (equi-join on cell keys — the 2D
    * band join), degrees are one partial-aggregated count over (id)
    * longs, and the clustering reuses the alternating large/small-star
    * [[Dedup.connectedComponents]] — O(log n) rounds of (id, label)
    * longs. The point set is capped to a FIXED id range (the geo3/geo4
    * convention) so the cloud's density — which decides where DBSCAN
    * sits relative to the percolation threshold — does not drift with
    * SF, and the oracle's transitive-closure replay stays bounded. */
  def dbscan(s: SparkSession, dir: String, idCap: Long = 2000L,
             rMicros: Long = 2000000L, minPts: Int = 4): DataFrame = {
    val pts = points(s, dir).filter(col("id") <= idCap)
    val pr = pairsWithin(pts, rMicros).select(col("id_a"), col("id_b"))
    val sym = pr.select(col("id_a").as("id"), col("id_b").as("nbr"))
      .unionByName(pr.select(col("id_b").as("id"), col("id_a").as("nbr")))
    val deg = pts.select(col("id"))
      .join(sym.groupBy(col("id")).agg(count(lit(1)).as("n_nbrs")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"))
    val core = deg.filter(col("n_nbrs") + 1L >= minPts).select(col("id"))
    val coreEdges = pr
      .join(core.select(col("id").as("id_a")), "id_a")
      .join(core.select(col("id").as("id_b")), "id_b")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    // cores absent from every core-core edge are singleton clusters
    val coreComp = core
      .join(Dedup.connectedComponents(coreEdges)
        .select(col("doc_id").as("id"), col("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id"))
        .as("core_comp"))
    val borderComp = sym
      .join(coreComp.select(col("id").as("nbr"),
        col("core_comp").as("nbr_comp")), "nbr")
      .groupBy(col("id")).agg(min(col("nbr_comp")).as("border_comp"))
    deg
      .join(coreComp, Seq("id"), "left")
      .join(borderComp, Seq("id"), "left")
      .select(col("id"), col("n_nbrs"),
        when(col("core_comp").isNotNull, lit("core"))
          .when(col("border_comp").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_comp"), col("border_comp"), lit(-1L))
          .as("cluster"))
  }

  /** `geo6_ripley` — Ripley's K clustering statistic at three radii:
    * K̂(r) = A·2·pairs(r)/n² against the CSR expectation πr², with
    * the ratio as the verdict (≈10⁶ micros ⇒ complete spatial
    * randomness; above ⇒ clustered, below ⇒ dispersed at that
    * scale). The multi-scale global companion of [[dbscan]]'s local
    * cluster extraction — K says WHETHER and AT WHAT RADIUS the
    * cloud clusters before DBSCAN asks where. Border effects are
    * uncorrected (documented; all radii ≪ the domain side so the
    * bias is ≤ ~4r/L per axis).
    *
    * Scale shape: ONE grid-stencil join at r_max (the geo1 device —
    * bucketed equi-join, never all-pairs) folds all three radii as
    * conditional counts in a single 1-row aggregate; the pair
    * predicate and counts are exact integers, the K/CSR/ratio report
    * is one mirrored double tree. */
  def ripleyK(s: SparkSession, dir: String,
              radiiMicros: Seq[Long] = Seq(1000000L, 2000000L, 4000000L),
              cap: Long = 2000L)
      : DataFrame = {
    val rMax = radiiMicros.max
    // id-capped subsample (the geo5 convention): K's pair count grows
    // with density SQUARED, so a fixed-size sample of the stationary
    // cloud is what keeps the estimator linear at any SF — K from a
    // subsample is statistically unbiased for a homogeneous process
    val p = points(s, dir).filter(col("id") <= cap)
    val n = broadcast(p.agg(count(lit(1)).as("n")))
    val aggs = radiiMicros.map(r =>
      sum(when(col("dist2") <= r * r, 1L).otherwise(0L)).as(s"c$r"))
    val counts = pairsWithin(p, rMax).agg(aggs.head, aggs.tail: _*)
    val stacked = counts.crossJoin(n)
      .select(col("n"), expr(s"stack(${radiiMicros.size}, " +
        radiiMicros.map(r => s"${r}L, c$r").mkString(", ") +
        ") as (r_micros, n_pairs)"))
    val area = (DomainMicros.toDouble * DomainMicros.toDouble)
    val k = (lit(2.0 * area) * col("n_pairs").cast("double")) /
      (col("n").cast("double") * col("n").cast("double"))
    val csr = lit(math.Pi) * col("r_micros").cast("double") *
      col("r_micros").cast("double")
    stacked.select(col("r_micros"), col("n"), col("n_pairs"),
      round(k).cast("long").as("k_micros2"),
      round(csr).cast("long").as("csr_micros2"),
      round(lit(1e6) * (k / csr)).cast("long").as("ratio_micros"))
  }

  /** `geo8_polygon_contains` — point-in-polygon join: which points
    * fall inside which polygon footprints. The OSM-flavored closer the
    * reference's data model implies but never computes: its ways carry
    * ordered `node_refs` (openstreet_kolkata.py:523-526) — polygons in
    * waiting — and its README's building/amenity analysis is exactly
    * "nodes inside building footprints". Here the footprints are
    * deterministic octagons (one per supplier: md5-coined center and
    * radius r ∈ [1e6, 4e6], a = ⌊r·70711/100000⌋ the 45° offset) so
    * the DuckDB oracle can replay polygon construction AND the
    * ray-cast bit-for-bit in integers.
    *
    * Scale shape: the grid-cell stencil this file's joins share —
    * each polygon explodes to the ≤(2r/g+2)² cells of its bbox, each
    * point maps to its ONE home cell, the equi-join on the cell key
    * generates candidates (a point meets a polygon through exactly one
    * cell, so no dedup pass), a cheap bbox filter trims, and the exact
    * even-odd ray-cast runs only on the sliver. All arithmetic is
    * BIGINT: the crossing test compares cross-multiplied products
    * (≤ ~1.04e16 ≪ 2⁶³) with the division eliminated by sign-split —
    * no floating point anywhere, so membership can never drift between
    * engines. At 100 TB both sides shuffle once on the cell key; dense
    * cells are ordinary hot keys (AQE skew-join). */
  def polygonContains(s: SparkSession, dir: String,
                      gridMicros: Long = 0L): DataFrame = {
    def h(salt: String, m: Long): Column =
      pmod(md5Base60(
        concat(lit(salt), col("s_suppkey").cast("string"))), lit(m))
    val pol = Tables.supplier(s, dir).select(
        col("s_suppkey").as("pid"),
        h("gpx:", DomainMicros).as("cx"),
        h("gpy:", DomainMicros).as("cy"),
        (lit(1000000L) + h("gpr:", 3000001L)).as("r"))
    // DENSITY-ADAPTIVE cell size (gridMicros = 0; an explicit value
    // pins it for tests): g tracks the MEASURED mean radius at r̄,
    // clamped to [2.5e5, 4e6]. The probe is a one-row aggregate over
    // the polygon dim — model-sized at any corpus scale, the same
    // self-sizing convention as Ranking.withGlobalRank.
    //
    // WHY r̄ and not the candidate-minimizing r̄/4 (the pre-r15
    // default): two costs trade off — the candidate sliver scales
    // with (2r̄ + 2g)² per polygon, the cell explode + join-build
    // volume with (2r̄/g + 2)². When candidate evaluation was an
    // interpreted CASE tree (pre-r13) the sliver dominated and r̄/4
    // was right; the native octagon kernel made a candidate cost ~ns,
    // so the shuffled/built cell rows now bind. The r15 measured
    // sweep at sf10 (GeoGridSweep, SURVEY §24 — 200k polygons, 10M
    // points, 289M true matches, true matches INVARIANT across g by
    // construction): g=500k → 12.9M cell rows/482M candidates/56.6s;
    // g=r̄/4=624k → 53.7s; g=1e6 → 51.8s; g=2e6 → 1.25M cells/750M
    // candidates/40.9s; g=4e6 → 0.5M cells/1.20B candidates/45.2s —
    // U-shaped wall, minimum near g ≈ 0.8·r̄, candidate volume 2.5x
    // the floor there and still cheaper than the finer grids' explode.
    // Changing g never moves results: the grid only generates
    // candidates, membership is decided by the bbox + ray-cast.
    val g = if (gridMicros > 0) gridMicros else {
      val row = pol.agg(sum(col("r")), count(lit(1))).collect()(0)
      val rBar = if (row.getLong(1) == 0) 2500000L
        else row.getLong(0) / row.getLong(1)
      math.max(250000L, math.min(4000000L, rBar))
    }
    val (pts, polCells) = cellJoinSides(s, dir, pol, g)
    val px = col("x"); val py = col("y")
    val cxc = col("cx"); val cyc = col("cy")
    val r = col("r")
    // even-odd crossing battery as ONE native kernel
    // (functions.OctagonContains): the former inline 8-edge CASE tree
    // was semantically identical but, fused into the join condition,
    // generated a method past HotSpot's JIT size limit — the whole
    // candidate sliver then evaluated interpreted (~12 of geo8's 13 s
    // at sf1). Same division-free BIGINT arithmetic, same edge order.
    pts.join(polCells, "cell")
      .filter(abs(px - cxc) <= r && abs(py - cyc) <= r)
      .filter(octagonContains(px, py, cxc, cyc, r))
      .groupBy(col("pid"))
      .agg(count(lit(1)).as("n_inside"), sum(col("id")).as("sum_ids"))
  }

  /** The two sides of geo8's cell equi-join at cell size `g` — shared
    * by [[polygonContains]] and the [[polygonGridProfile]] diagnostic
    * so the profiled candidate volume is BY CONSTRUCTION the volume
    * the serving face pays. */
  private def cellJoinSides(s: SparkSession, dir: String, pol: DataFrame,
                            g: Long): (DataFrame, DataFrame) = {
    val cpa = (DomainMicros + g - 1) / g
    val polCells = pol
      .withColumn("bx0", expr(s"greatest(cx - r, 0L) DIV $g"))
      .withColumn("bx1",
        expr(s"least(cx + r, ${DomainMicros - 1}L) DIV $g"))
      .withColumn("by0", expr(s"greatest(cy - r, 0L) DIV $g"))
      .withColumn("by1",
        expr(s"least(cy + r, ${DomainMicros - 1}L) DIV $g"))
      .withColumn("cellx", explode(sequence(col("bx0"), col("bx1"))))
      .withColumn("celly", explode(sequence(col("by0"), col("by1"))))
      .select(col("pid"), col("cx"), col("cy"), col("r"),
        (col("cellx") * cpa + col("celly")).as("cell"))
    val pts = points(s, dir)
      .withColumn("cell", expr(s"(x DIV $g) * $cpa + (y DIV $g)"))
    (pts, polCells)
  }

  /** Grid-knob diagnostic for geo8 (SURVEY §24 sweep): at cell size
    * `g`, the cost ledger of the cell join — polygon cell-explode
    * volume, candidate pairs out of the equi-join, bbox survivors, and
    * true ray-cast matches (g-invariant by construction: the grid only
    * GENERATES candidates). One row; each count is an aggregate over
    * the same frames the face joins. */
  def polygonGridProfile(s: SparkSession, dir: String,
                         gridMicros: Long): DataFrame = {
    def h(salt: String, m: Long): Column =
      pmod(md5Base60(
        concat(lit(salt), col("s_suppkey").cast("string"))), lit(m))
    val pol = Tables.supplier(s, dir).select(
        col("s_suppkey").as("pid"),
        h("gpx:", DomainMicros).as("cx"),
        h("gpy:", DomainMicros).as("cy"),
        (lit(1000000L) + h("gpr:", 3000001L)).as("r"))
    val (pts, polCells) = cellJoinSides(s, dir, pol, gridMicros)
    val cand = pts.join(polCells, "cell")
    val bbox = cand.filter(abs(col("x") - col("cx")) <= col("r") &&
      abs(col("y") - col("cy")) <= col("r"))
    val trueMatches = bbox.filter(octagonContains(
      col("x"), col("y"), col("cx"), col("cy"), col("r")))
    import s.implicits._
    Seq((gridMicros, polCells.count(), cand.count(), bbox.count(),
        trueMatches.count()))
      .toDF("grid_micros", "n_pol_cells", "n_candidates",
        "n_bbox_survivors", "n_true_matches")
  }
}
