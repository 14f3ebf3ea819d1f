package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Graph signals over the document corpus — the web-graph layer of a
  * crawl-curation pipeline. PageRank is the classic link-quality prior
  * (a page linked by high-rank pages is worth keeping; used to weight
  * crawl frontiers and training-data mixtures), and triangle counts are
  * the local-density signal behind community/spam detection (link farms
  * are triangle-poor relative to degree; organic neighborhoods are
  * triangle-rich).
  *
  * The testdata ships no link column, so the link graph derives from
  * doc_id as pure key functions — the same deterministic-derivation
  * precedent as the TPC-H partsupp emulation: each doc links to
  * (i+1)%N and (i+2)%N (a ring lattice that guarantees triangles and
  * full connectivity) and to (i*i+3)%N (quadratic-residue hubs whose
  * uneven in-degree gives the rank vector real variance). Both engines
  * derive the identical edge multiset from the identical arithmetic.
  *
  * Scale notes: PageRank is the canonical Pregel-style iteration — one
  * shuffle per round on (node), ranks and edges co-partitioned after
  * the first round, lineage cut per round by eager localCheckpoint
  * (the converged vector stages to parquet once, so the returned plan
  * owns no transient storage).
  * Rank mass moves in integer MICRO-units: per-edge contributions and
  * the damped update round to whole micros each round, so every sum is
  * an integer sum — order-independent across partitionings and engines
  * (the same quantization discipline as the engine's other
  * order-sensitive folds). Triangle counting orients each undirected
  * edge from the (degree, id)-smaller endpoint to the larger, so every
  * wedge is generated exactly once at its lowest-degree apex — the
  * node-iterator bound that keeps intermediate wedge counts near
  * m^(3/2) instead of Σd² on skewed graphs.
  */
object Graphs {


  /** Staged-result registry shared by the iterative graph operators:
    * results are deterministic per (corpus fingerprint, params), so
    * each staging directory is written ONCE per key and reused — a
    * later call (or another operator composing this one) can never
    * overwrite part files that an earlier call's returned lazy plan
    * still reads. The version suffix is the algorithm version: bump it
    * when the computation changes so stale models can't serve a new
    * code version — `v2` = the r14 rank-space edge rewire, bumped for
    * EVERY consumer of [[linkEdges]] (r15): a corpus whose fingerprint
    * is unchanged must not serve a pre-rewire staged result built from
    * the phantom-endpoint graph. `build` runs in a [[Staging.scratch]]
    * scope, so the checkpoints it persists are released once the
    * result is staged. */
  private def staged(s: SparkSession, dir: String, tag: String,
                     params: String)(build: String => Unit): DataFrame = {
    val base = Staging.base(s"stage_${tag}_v2", dir, params, "documents")
    Staging.buildOnce(base)(Staging.scratch(s)(build(s"$base/data")))
    s.read.parquet(s"$base/data")
  }

  /** The derived directed link multiset (src, dst), self-loops removed.
    * Out-degree is 2 or 3 (a quadratic dst may collide with a ring dst;
    * the duplicate edge is kept — deterministically — as double
    * weight). */
  /** Dense-rank frame for the synthetic generators (the r14 rank-space
    * rewire): (doc_id, rnk, n_docs) with rnk = 0-based rank under
    * ORDER BY doc_id. On contiguous [0, n_docs) driver corpora
    * rnk == doc_id, so every generator that draws neighbors in rank
    * space and maps back through [[rankToId]] emits the bit-identical
    * edge set it did in id space — while on sparse ids (soak/
    * production corpora) no modulus can mint a phantom endpoint.
    * STAGED per corpus fingerprint (r15): it is a pure function of
    * `documents`, and the pre-r15 per-call localCheckpoint leaked one
    * un-unpersistable rank frame per call on blockEdges' warm
    * modularity path — now the eager rank pass (count + range-stamp)
    * runs once per corpus inside the staged build and every caller
    * reads the file-backed (doc_id, rnk, n_docs) table. */
  private def rankedDocs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "rankdocs", "r") { finalPath =>
      Ranking.withGlobalRank(
          Tables.documents(s, dir).select(col("doc_id")),
          "rnk1", "n_docs", Seq(col("doc_id")))
        .select(col("doc_id"), (col("rnk1") - 1L).as("rnk"), col("n_docs"))
        .write.mode("overwrite").parquet(finalPath)
    }

  /** The rank → id map of [[rankedDocs]] output, keyed for a
    * `join(_, "dst_rnk")` that keeps edge multiplicity (the map is
    * bijective). */
  private def rankToId(ranked: DataFrame): DataFrame =
    ranked.select(col("rnk").as("dst_rnk"), col("doc_id").as("dst"))

  def linkEdges(s: SparkSession, dir: String): DataFrame =
    // RANK-SPACE wiring (the §22.10 rewire): the ring/quadratic
    // neighbors are computed on each document's dense rank under
    // ORDER BY doc_id, then mapped back to real ids — so every
    // endpoint is a real doc_id on ANY id space. On contiguous
    // [0, n_docs) corpora rank == doc_id and the edge multiset is
    // bit-identical to the retired `(doc_id + k) % n_docs` form
    // (driver hashes unmoved); on sparse ids (the 10x ScaleUp soak,
    // any production corpus) the modulus no longer mints phantom
    // endpoints. Out-degree stays 2 or 3 (a quadratic dst may collide
    // with a ring dst; the duplicate edge is kept as double weight).
    // Staged per corpus fingerprint: the rank pass (an eager count +
    // range-stamp above 4M rows) runs once per corpus, and the ~15
    // consuming faces read the materialized edge table — also the
    // 100 TB shape (derive once, reuse across every downstream
    // kernel).
    staged(s, dir, "edges", "rank") { finalPath =>
      val ranked = rankedDocs(s, dir)
      val byRank = rankToId(ranked)
      ranked
        .select(col("doc_id").as("src"), col("rnk"),
          explode(array(
            (col("rnk") + 1) % col("n_docs"),
            (col("rnk") + 2) % col("n_docs"),
            (col("rnk") * col("rnk") + 3) % col("n_docs"))).as("dst_rnk"))
        .filter(col("dst_rnk") =!= col("rnk")) // self-loop, rank space
        .join(byRank, "dst_rnk") // rank → id; bijective, keeps dups
        .select(col("src"), col("dst"))
        .write.parquet(finalPath)
    }

  /** PageRank, `iters` synchronous rounds at damping 0.85, rank mass in
    * integer micros (initial mass 1e6/N per node). Output:
    * (node, rank_micros) — bit-stable because every cross-row sum is an
    * integer sum and every float op is a single IEEE multiply/divide on
    * integers ≤ 2^53, identical in any evaluation order. */
  def pagerank(s: SparkSession, dir: String, iters: Int = 10,
               damping: Double = 0.85): DataFrame = staged(s, dir, "pr",
      s"${iters}_${math.round(damping * 1000)}") { finalPath =>
    // decimal-exact 1 - damping: the IEEE expression 1 - 0.85 sits one
    // ulp off the 0.15 literal the oracle embeds (see textrank)
    val teleport = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble
    // materialize the loop-invariant inputs ONCE — without this the
    // edge derivation (documents scan + explode + degree join) and
    // the node list replay inside every round's plan
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"))
      .localCheckpoint(true)
    val edges = linkEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(deg, "src").localCheckpoint(true)
    val nTotal = broadcast(nodes.agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true))
    var ranks = nodes.crossJoin(nTotal)
      .select(col("node"),
        round(lit(1e6) / col("n_docs")).cast("long").as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"),
          round(col("r").cast("double") / col("outdeg"))
            .cast("long").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .crossJoin(nTotal)
        .select(col("node"),
          (round(lit(teleport) * lit(1e6) / col("n_docs")).cast("long") +
            round(lit(damping) * coalesce(col("in_mass"), lit(0L)))
              .cast("long")).as("r"))
        .localCheckpoint(true)
    }
    ranks.write.mode("overwrite").parquet(finalPath)
  }.select(col("node"), col("r").as("rank_micros"))

  /** PERSONALIZED PageRank — [[pagerank]] with the teleport mass
    * restricted to a seed set (doc_id ≡ 0 mod `seedMod`): the random
    * surfer restarts at the seeds instead of uniformly, so ranks
    * measure proximity TO the seeds — the "more like these documents"
    * retrieval/expansion primitive (GraphSAGE-era recommendation, seed
    * expansion for crawl targeting). Same integer-micro mass
    * arithmetic, same loop-invariant staging and localCheckpoint
    * lineage cuts as [[pagerank]]; only the teleport term is
    * conditional, so the scale shape is unchanged (one narrow
    * contrib shuffle per round). */
  def personalizedPagerank(s: SparkSession, dir: String, iters: Int = 10,
                           damping: Double = 0.85,
                           seedMod: Int = 97): DataFrame = staged(s, dir,
      "ppr", s"${iters}_${math.round(damping * 1000)}_$seedMod") { finalPath =>
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"))
      .localCheckpoint(true)
    val edges = linkEdges(s, dir)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = edges.join(deg, "src").localCheckpoint(true)
    val isSeed = pmod(col("node"), lit(seedMod.toLong)) === 0L
    val nSeeds = broadcast(nodes.filter(isSeed)
      .agg(count(lit(1)).as("n_seeds")).localCheckpoint(true))
    // decimal-exact 1 - damping (see pagerank)
    val tp = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble
    def teleport: Column =
      when(isSeed, round(lit(tp) * lit(1e6) / col("n_seeds"))
        .cast("long")).otherwise(lit(0L))
    var ranks = nodes.crossJoin(nSeeds)
      .select(col("node"),
        when(isSeed, round(lit(1e6) / col("n_seeds")).cast("long"))
          .otherwise(lit(0L)).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"),
          round(col("r").cast("double") / col("outdeg"))
            .cast("long").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .crossJoin(nSeeds)
        .select(col("node"),
          (teleport +
            round(lit(damping) * coalesce(col("in_mass"), lit(0L)))
              .cast("long")).as("r"))
        .localCheckpoint(true)
    }
    ranks.write.mode("overwrite").parquet(finalPath)
  }.select(col("node"), col("r").as("ppr_micros"))

  /** Per-node triangle participation over the undirected simple graph
    * (dedup'd, self-loops out). Orientation: a→b iff
    * (deg(a), a) < (deg(b), b); wedges join at the low end, the closing
    * edge is probed in the oriented set, and each found triangle credits
    * all three corners. Pure integer counting — no fp anywhere. */
  def triangleCounts(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "tri", "d") { finalPath =>
    val und = linkEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val withDegs = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    // materialized once — it feeds all three join roles below
    val oriented = withDegs.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("a"))
        .otherwise(col("b")).as("lo"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")), col("b"))
        .otherwise(col("a")).as("hi"))
      .localCheckpoint(true)
    val e1 = oriented.select(col("lo").as("u"), col("hi").as("v"))
    val e2 = oriented.select(col("lo").as("v2"), col("hi").as("w"))
    val wedges = e1.join(e2, col("v") === col("v2"))
      .select(col("u"), col("v"), col("w"))
    val closing = oriented.select(col("lo").as("u"), col("hi").as("w"))
    val tris = wedges.join(closing, Seq("u", "w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .write.mode("overwrite").parquet(finalPath)
  }

  /** Distance-limited BFS (the k-hop neighborhood) from `seed` over the
    * UNDIRECTED simple link graph: (node, dist) for every node within
    * `maxHops` hops, dist = exact shortest-path hop count. The bounded
    * horizon is the production shape — crawl frontier expansion, spam
    * neighborhood scoring, GNN sampling all want "everything within k",
    * never the full diameter.
    *
    * Scale shape: per round one (frontier ⋈ nbrs) join plus an anti-join
    * against the settled set — message-passing again, but the working
    * set is the FRONTIER (nodes first reached this round), not the
    * graph: settled nodes never re-expand (textbook BFS, not
    * Bellman-Ford re-relaxation), so each round shuffles only (node)
    * longs proportional to the hop ring. Lineage cut per round. A
    * fixed `maxHops` rounds run even after the frontier empties — each
    * such round is a join between an empty frame and the neighbor
    * list, metadata-only at any scale. */
  def khopDistances(s: SparkSession, dir: String, seed: Long = 0L,
                    maxHops: Int = 8): DataFrame =
    staged(s, dir, "bfs", s"${seed}_$maxHops") { finalPath =>
      val und = linkEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
        .localCheckpoint(true)
      // loop-carried frames go through Lineage.cut: settled appears
      // twice per round (anti-join + union), so preserved checkpoint
      // stats would compound across hops (see Lineage)
      var settled = Lineage.cut(s.range(1).select(lit(seed).as("node"),
        lit(0L).as("dist")))
      var frontier = settled
      for (h <- 1 to maxHops) {
        frontier = Lineage.cut(frontier
          .join(nbrs, "node")
          .select(col("nbr").as("node")).distinct()
          .join(settled.select(col("node")), Seq("node"), "left_anti")
          .select(col("node"), lit(h.toLong).as("dist")))
        settled = Lineage.cut(settled.unionByName(frontier))
      }
      settled.write.mode("overwrite").parquet(finalPath)
    }

  /** Weighted single-source shortest paths bounded to ≤ `maxHops`
    * edges — Bellman-Ford rounds with the SPFA frontier optimization
    * (only nodes improved last round relax their out-edges; a path
    * whose prefix did not improve is dominated by a cheaper
    * fewer-edge prefix, so the ≤k-edge minimum is still exact).
    * Weights are the deterministic key function 1 + (src+dst) % 7 —
    * same pure-arithmetic precedent as the link graph itself, so both
    * engines derive the identical weighted instance.
    *
    * Scale shape: per round one equi-join frontier→edges plus a
    * min-aggregation, all keyed on node — the Pregel message pattern;
    * only (node, cost) longs shuffle; lineage cut per round via
    * localCheckpoint (same discipline as PageRank/BFS). */
  /** `graph_closeness` — harmonic closeness centrality of the PPR
    * seed set (doc_id ≡ 0 mod `seedMod`): per seed, Σ 1/d(seed, v)
    * over nodes reached within `maxHops` undirected hops, in integer
    * micros, plus the reach count. Harmonic (not classic) closeness so
    * unreachable nodes contribute 0 instead of poisoning the mean —
    * the robust variant for graphs that aren't strongly connected.
    * Beside [[personalizedPagerank]] (proximity TO the seeds under
    * random-walk mass), this is proximity FROM the seeds under
    * shortest paths — the two standard seed-centrality readouts.
    *
    * Scale shape: multi-source BFS keyed (seed, node) — the khop
    * frontier loop with the seed riding along, so per round one
    * equi-join + distinct + anti-join, all on narrow long pairs;
    * frontier size is bounded by |seeds| × frontier width. The ≤
    * |seeds|-row summary stages once per (dataset, params). */
  def harmonicCloseness(s: SparkSession, dir: String, seedMod: Int = 97,
                        maxHops: Int = 8): DataFrame =
    staged(s, dir, "close", s"${seedMod}_$maxHops") { finalPath =>
      val und = linkEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
        .localCheckpoint(true)
      val seeds = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(seedMod.toLong)) === 0L)
        .select(col("doc_id").as("seed"))
      // Lineage.cut on the loop-carried frames (settled appears
      // twice per round — see Lineage)
      var settled = Lineage.cut(seeds
        .select(col("seed"), col("seed").as("node"), lit(0L).as("dist")))
      var frontier = settled
      for (h <- 1 to maxHops) {
        frontier = Lineage.cut(frontier.join(nbrs, "node")
          .select(col("seed"), col("nbr").as("node")).distinct()
          .join(settled.select(col("seed"), col("node")),
            Seq("seed", "node"), "left_anti")
          .select(col("seed"), col("node"), lit(h.toLong).as("dist")))
        settled = Lineage.cut(settled.unionByName(frontier))
      }
      settled.filter(col("dist") > 0)
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"),
          sum(round(lit(1e6) / col("dist")).cast("long"))
            .as("harmonic_micros"))
        .write.mode("overwrite").parquet(finalPath)
    }.orderBy(col("seed").asc)

  /** `graph_walks` — DeepWalk-style random-walk corpus generation
    * (Perozzi et al. 2014): `nWalks` truncated walks of `walkLen`
    * steps from each seed node, the sentence corpus a skip-gram graph
    * embedding trains on. The walk is DERANDOMIZED the way every
    * sampling operator here is: at step t the walker at node v takes
    * the out-neighbor whose per-node rank (row_number over dst) equals
    * `md5_base60("walkId:t:v") mod outdeg(v)` — a pure function of
    * (walk, step, node), so walks are reproducible across engines,
    * re-runs and partitionings, and the DuckDB oracle replays every
    * hop from the same md5 arithmetic.
    *
    * Scale shape: the ranked out-neighbor table builds once (one
    * window over the edge list, checkpointed); each step is one
    * equi-join of the (walk_id, node) frontier — |seeds|×nWalks rows,
    * independent of graph size — against it, Pregel's message shape
    * with a bounded frontier. Walk count, not graph size, drives every
    * intermediate; the emitted corpus is (walks × steps) rows of three
    * longs. Output staged once per (dataset, params). */
  def randomWalks(s: SparkSession, dir: String, seedMod: Int = 97,
                  walkLen: Int = 8, nWalks: Int = 2): DataFrame =
    staged(s, dir, "walks", s"${seedMod}_${walkLen}_$nWalks") { finalPath =>
      val de = linkEdges(s, dir).distinct()
      val bySrc = Window.partitionBy(col("src"))
      val ranked = de.select(col("src"), col("dst"),
          row_number().over(bySrc.orderBy(col("dst"))).cast("long")
            .as("rk"),
          count(lit(1)).over(bySrc).as("outdeg"))
        .localCheckpoint(true)
      var cur = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(seedMod.toLong)) === 0L)
        .select(col("doc_id").as("seed"),
          explode(array((0 until nWalks).map(k => lit(k.toLong)): _*))
            .as("k"))
        .select((col("seed") * lit(nWalks.toLong) + col("k"))
          .as("walk_id"), col("seed").as("node"))
        .localCheckpoint(true)
      var acc = cur.select(col("walk_id"), lit(0L).as("step"),
        col("node"))
      for (t <- 1 to walkLen) {
        cur = cur.join(ranked, col("node") === col("src"))
          .filter(col("rk") === pmod(md5Base60(
            concat_ws(":", col("walk_id"), lit(t.toLong), col("node"))),
            col("outdeg")) + 1L)
          .select(col("walk_id"), col("dst").as("node"))
          .localCheckpoint(true)
        acc = acc.unionByName(
          cur.select(col("walk_id"), lit(t.toLong).as("step"),
            col("node")))
      }
      acc.write.mode("overwrite").parquet(finalPath)
    }.orderBy(col("walk_id").asc, col("step").asc)

  /** `graph_walk_pairs` — skip-gram training pairs from the
    * [[randomWalks]] corpus: every (center, context) node pair within
    * `window` steps of each other on the same walk, aggregated to
    * (center, context, n_pairs) — exactly the co-occurrence table a
    * DeepWalk/node2vec embedding trains on (and the input
    * tok8_neg_sampling-style negative tables complement). Both
    * directions emerge naturally from the symmetric step-offset join.
    *
    * Scale shape: one self-equi-join of the walk table on walk_id
    * (walk-corpus sized, tiny relative to the graph), offset-bounded
    * so each row joins ≤ 2·window partners, then one partial-agg
    * count keyed (center, context) — word-count's plan on node ids. */
  def walkSkipgramPairs(s: SparkSession, dir: String,
                        window: Int = 2): DataFrame = {
    val w = randomWalks(s, dir)
    w.select(col("walk_id"), col("step").as("sa"), col("node").as("center"))
      .join(w.select(col("walk_id"), col("step").as("sb"),
        col("node").as("context")), "walk_id")
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def ssspWeighted(s: SparkSession, dir: String, seed: Long = 0L,
                   maxHops: Int = 8): DataFrame =
    staged(s, dir, "sssp", s"${seed}_$maxHops") { finalPath =>
      val edges = linkEdges(s, dir)
        .select(col("src"), col("dst"),
          (lit(1L) + (col("src") + col("dst")) % 7).as("w"))
        .localCheckpoint(true)
      // Lineage.cut on the loop-carried frames (best appears twice
      // per round: the improvement probe and the union — see Lineage)
      var best = Lineage.cut(s.range(1).select(lit(seed).as("node"),
        lit(0L).as("cost")))
      var frontier = best
      for (_ <- 1 to maxHops) {
        val relaxed = frontier
          .join(edges, col("node") === col("src"))
          .select(col("dst").as("node"),
            (col("cost") + col("w")).as("cost"))
          .groupBy("node").agg(min("cost").as("cost"))
        frontier = Lineage.cut(relaxed
          .join(best.withColumnRenamed("cost", "old"), Seq("node"), "left")
          .filter(col("old").isNull || col("cost") < col("old"))
          .select(col("node"), col("cost")))
        best = Lineage.cut(best.unionByName(frontier)
          .groupBy("node").agg(min("cost").as("cost")))
      }
      best.write.mode("overwrite").parquet(finalPath)
    }

  /** The block-community graph for label propagation: the ring+hub
    * graph above has NO community structure (LPA would correctly find
    * none), so the community detector gets its own derived graph with
    * real modular structure — 50-node blocks, each an intra-block ring
    * with ±1/±2 edges, plus one sparse cross-block edge per block head
    * (i → i+350 mod N when i ≡ 0 mod 50). Same pure-key-function
    * precedent as linkEdges: both engines derive the identical edge
    * set. */
  def blockEdges(s: SparkSession, dir: String): DataFrame = {
    // 50-node blocks formed on the dense RANK, mapped back to real ids
    // (r14 rewire — see [[rankedDocs]]; rnk == doc_id on contiguous
    // corpora, so the block graph is unchanged there). EAGER (rank
    // pass): callers are the staged LPA build and modularity's
    // per-call rollup, both already eager.
    val ranked = rankedDocs(s, dir)
    val base = (col("rnk") - pmod(col("rnk"), lit(50L)))
    ranked
      .select(col("doc_id"), col("rnk"), col("n_docs"),
        explode(array(
          base + pmod(pmod(col("rnk"), lit(50L)) + 1, lit(50L)),
          base + pmod(pmod(col("rnk"), lit(50L)) + 2, lit(50L)),
          when(pmod(col("rnk"), lit(50L)) === 0,
            pmod(col("rnk") + 350, col("n_docs")))
            .otherwise(col("rnk")))).as("dst_rnk"))
      .filter(col("dst_rnk") =!= col("rnk") &&
        col("dst_rnk") < col("n_docs"))
      .join(rankToId(ranked), "dst_rnk")
      .select(col("doc_id").as("src"), col("dst"))
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007) over [[blockEdges]]: every node starts as its own label;
    * each round it adopts the most frequent label among itself and its
    * (undirected) neighbors, ties broken toward the SMALLEST label —
    * fully deterministic, no RNG. With min-label ties each block
    * converges to its base id (the block's minimum), and the sparse
    * cross-block edges lose every vote against four-plus intra-block
    * neighbors, so the stable communities ARE the blocks; 15 rounds
    * covers the ring diameter with margin.
    *
    * Scale shape: the canonical Pregel iteration again — each round is
    * one (nbr ⋈ labels) join plus two integer hash-aggs over (node,
    * label) longs, lineage cut per round. The argmax is encoded in one
    * integer key
    * (count·1e8 + (1e8−1−label), labels < 1e8 by the corpus-id bound)
    * so the per-node reduce is a plain MAX — map-side combinable,
    * order-independent, and byte-identical in the DuckDB
    * recursive-CTE replay. */
  def communities(s: SparkSession, dir: String, iters: Int = 15): DataFrame =
    staged(s, dir, "lpa", s"${iters}_rk") { finalPath =>
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"))
      .localCheckpoint(true)
    // the packed-argmax encoding below reserves 8 decimal digits for
    // the label field — fail fast instead of silently corrupting if
    // a corpus ever exceeds it (one model-sized driver scalar)
    require(nodes.agg(max(col("node"))).head.getLong(0) < 99999999L,
      "LPA label encoding requires doc_id < 1e8; widen the field")
    val und = blockEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // undirected neighborhoods INCLUDING self — the self row keeps an
    // acquired minimum sticky instead of sliding past it
    val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
      .union(nodes.select(col("node"), col("node").as("nbr")))
      .localCheckpoint(true)
    var labels = nodes.select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      labels = nbrs
        .join(labels.withColumnRenamed("node", "ln"),
          col("nbr") === col("ln"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(col("c") * 100000000L + (lit(99999999L) - col("lbl")))
          .as("p"))
        .select(col("node"),
          (lit(99999999L) - pmod(col("p"), lit(100000000L))).as("lbl"))
        .localCheckpoint(true)
    }
    labels.write.mode("overwrite").parquet(finalPath)
  }.select(col("node"), col("lbl").as("community"))

  /** Newman modularity of the label-propagation partition — the eval
    * face of [[communities]] (measure the clustering, don't trust it):
    * per community c over the undirected simple graph,
    * Q_c = e_c/m − (D_c/2m)², reported as (community, n_nodes,
    * intra_edges, degree_sum, q_contrib_micros); ΣQ_c is the partition
    * modularity, strongly positive for the planted blocks. Everything
    * until the final division is integer (edge counts, degree sums, a
    * broadcast 1-row m), the two divisions and one square are IEEE
    * ops on exact integer inputs, and the result micro-quantizes per
    * community — deterministic in any evaluation order and engine.
    * Scale: one (node ⋈ label) join per endpoint, integer hash-aggs
    * on (community) — the labels are longs, the corpus never moves. */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    val comm = communities(s, dir)
    // the edge set replays into each consumer below: it is pure
    // arithmetic over the doc_id column, cheaper to recompute than to
    // stage (and a checkpoint the RETURNED lazy plan depends on could
    // never be unpersisted by this operator)
    val und = blockEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val m = broadcast(und.agg(count(lit(1)).as("m")))
    val ca = comm.select(col("node").as("a"), col("community").as("comm_a"))
    val cb = comm.select(col("node").as("b"), col("community").as("comm_b"))
    val intra = und.join(ca, "a").join(cb, "b")
      .filter(col("comm_a") === col("comm_b"))
      .groupBy(col("comm_a").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val byComm = comm.join(deg, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
    // LEFT join: a community with zero internal edges still owes its
    // −(D_c/2m)² term — dropping the row would overstate ΣQ_c
    byComm.join(intra, Seq("community"), "left")
      .crossJoin(m)
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        round(lit(1e6) *
          (coalesce(col("intra_edges"), lit(0L)).cast("double") / col("m") -
            (col("degree_sum").cast("double") / (col("m") * 2)) *
              (col("degree_sum").cast("double") / (col("m") * 2))))
          .cast("long").as("q_contrib_micros"))
  }

  /** HITS hubs & authorities over the directed link multiset —
    * PageRank's bipartite-reinforcement sibling (Kleinberg): auth(v) =
    * Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v), `iters` synchronous
    * double-steps from hub⁰ = 1e6. NO per-round normalization: every
    * out-degree is 2–3, so after 4 rounds the exact integer masses stay
    * ≤ ~1e10 (far inside long range) and the iteration is pure integer
    * sums — bit-stable in any engine and order, which a per-round
    * float-norm rescale could never be. One final normalization pivots
    * each score on its exact integer max into micros.
    *
    * Scale shape: per round, two edge⋈score equi-joins + hash aggs on
    * node keys (only (node, long) pairs shuffle); loop-invariant edges
    * localCheckpoint once; duplicate edges deliberately carry double
    * weight (the multiset semantics [[linkEdges]] documents). */
  def hits(s: SparkSession, dir: String, iters: Int = 4): DataFrame =
    staged(s, dir, "hits", s"$iters") { finalPath =>
    val nodes = Tables.documents(s, dir).select(col("doc_id").as("node"))
      .localCheckpoint(true)
    val edges = linkEdges(s, dir).localCheckpoint(true)
    var hub = nodes.select(col("node"), lit(1000000L).as("h"))
      .localCheckpoint(true)
    var auth = hub.select(col("node"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      auth = edges
        .join(hub.withColumnRenamed("node", "hn"), col("src") === col("hn"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
        .localCheckpoint(true)
      hub = edges
        .join(auth.withColumnRenamed("node", "an"), col("dst") === col("an"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
        .localCheckpoint(true)
    }
    // every node has out-edges (out-degree 2-3) so hub covers all
    // nodes; auth misses in-degree-0 nodes -> left join, 0 mass
    nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("h"),
        coalesce(col("a"), lit(0L)).as("a"))
      .write.mode("overwrite").parquet(finalPath)
  }.select(col("node"), col("h"), col("a"))
    // normalization maxima as a 1-row broadcast agg, not single-
    // partition whole-frame windows: no total order is needed for two
    // scalar maxima, so the final projection stays fully parallel
    // (the seasonality/ksTest totals convention)
    .transform { scored =>
      scored.crossJoin(broadcast(
        scored.agg(max(col("h")).as("max_h"), max(col("a")).as("max_a"))))
    }
    .select(col("node"),
      round(lit(1e6) * col("h").cast("double") /
        col("max_h").cast("double")).cast("long").as("hub_micros"),
      round(lit(1e6) * col("a").cast("double") /
        col("max_a").cast("double")).cast("long").as("auth_micros"))

  /** Common-neighbor link prediction over the undirected link graph:
    * for every NON-adjacent pair with ≥2 shared neighbors, the shared
    * count plus the neighbor-set Jaccard (the two classic proximity
    * scores for "should this edge exist?").
    *
    * Scale shape: candidates come from a wedge join bucketed on the
    * SHARED neighbor — cost is Σ_w deg(w)², bounded by the square of
    * the max degree per bucket, never an all-pairs product. Jaccard
    * needs no set materialization: |A∪B| = deg(a) + deg(b) − |A∩B|,
    * so only (node, long) pairs shuffle. The score is emitted as an
    * exact integer floor division (1e6·cn div union) — no float
    * rounding to disagree on. Existing edges leave via a left-anti
    * join on the same (a, b) key. */
  def linkPredict(s: SparkSession, dir: String): DataFrame = {
    val und = linkEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true) // feeds nbrs twice + the anti join
    val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = nbrs.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val pairs = nbrs.select(col("nbr").as("w"), col("node").as("u"))
      .join(nbrs.select(col("nbr").as("w"), col("node").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= 2)
    pairs
      .join(und, pairs("u") === und("a") && pairs("v") === und("b"),
        "left_anti")
      .join(deg.select(col("node").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
      .select(col("u").as("node_a"), col("v").as("node_b"), col("cn"),
        expr("(1000000 * cn) div (deg_u + deg_v - cn)").as("jaccard_micros"))
  }

  /** Degree assortativity of the undirected link graph: the Pearson
    * correlation of endpoint degrees over every edge (both
    * orientations, the standard Newman definition) — positive means
    * hubs attach to hubs, the one-number structural fingerprint that
    * flags when a "random" document link graph has secretly gone
    * preferential.
    *
    * Scale shape: distinct edges + a degree count + two co-partitioned
    * joins back on the endpoint key; the correlation itself is one
    * aggregation of exact integer sums (degrees are small ints — the
    * products sit far below 2⁶³ until ~10¹² edges) with a FIXED IEEE
    * divide/sqrt chain at the end, mirrored verbatim by the oracle. */
  def assortativity(s: SparkSession, dir: String): DataFrame = {
    val und = linkEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val ends = und.select(col("a").as("x"), col("b").as("y"))
      .unionAll(und.select(col("b").as("x"), col("a").as("y")))
    val deg = ends.groupBy(col("x").as("node")).agg(count(lit(1)).as("deg"))
    val pairs = ends
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
    pairs.agg(
        count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("m2"),
        (col("m2") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("m2") * col("sxx") - col("sx") * col("sx")).as("varx"),
        (col("m2") * col("syy") - col("sy") * col("sy")).as("vary"))
      .select(col("m2"), col("num"), col("varx"), col("vary"),
        round(col("num").cast("double") /
          sqrt(col("varx").cast("double") * col("vary").cast("double")), 6)
          .as("assortativity"))
  }

  /** Directed-graph reciprocity — the fraction of directed edges whose
    * reverse edge also exists (near 0 = broadcast/citation structure,
    * near 1 = mutual-follow structure): the one-number directionality
    * fingerprint beside [[assortativity]]'s degree mixing. Distinct
    * edges first (the multiset would double-count the ring overlaps),
    * then one self-equi-join on the REVERSED key — hash-partitioned on
    * the join key, never all-pairs.
    */
  def reciprocity(s: SparkSession, dir: String): DataFrame = {
    val e = linkEdges(s, dir).distinct()
      .localCheckpoint(true) // feeds the count and both join sides
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(mutual.agg(count(lit(1)).as("n_mutual"))))
      .select(col("n_edges"), col("n_mutual"),
        round(lit(1e6) * col("n_mutual").cast("double") /
          col("n_edges").cast("double")).cast("long")
          .as("reciprocity_micros"))
  }

  /** The "kc:" md5-seeded irregular graph that [[kcore]] and
    * [[diameter]] share: node i emits 1 + (h60("kc:i") mod 5) edges to
    * h60("kc:i:j") mod N, neighbors drawn in RANK space and mapped to
    * real ids (the r14 rewire — see [[rankedDocs]]). Eager (rank pass):
    * callers reach it only inside their staged builds. */
  private def kcEdges(s: SparkSession, dir: String): DataFrame = {
    val ranked = rankedDocs(s, dir)
    ranked
      .select(col("doc_id"), col("n_docs"),
        explode(sequence(lit(0L),
          pmod(md5Base60(
            concat(lit("kc:"), col("doc_id"))), lit(5L)))).as("j"))
      .select(col("doc_id").as("src"),
        pmod(md5Base60(
          concat(lit("kc:"), col("doc_id"), lit(":"), col("j"))),
          col("n_docs")).as("dst_rnk"))
      .join(rankToId(ranked), "dst_rnk")
      .select(col("src"), col("dst"))
      .filter(col("dst") =!= col("src"))
  }

  /** Bounded k-core peel — the density backbone extraction behind
    * spam/link-farm filtering and community seeding: repeatedly delete
    * nodes of degree < k (each deletion can expose new under-degree
    * nodes) until fixpoint, here bounded at `rounds` synchronous
    * passes so BOTH engines compute the identical well-defined
    * "r-round peel" even if a future corpus needs more rounds (peeling
    * is idempotent after fixpoint, and the fixture converges in ≤ 6).
    *
    * The ring-lattice link graph is degree-regular (k-core degenerates
    * to all-or-nothing on it), so this operator peels the md5-seeded
    * irregular [[kcEdges]] graph — both engines derive the identical
    * multiset through the md5-60 bridge.
    *
    * Scale shape: per round one degree aggregation (map-side combined)
    * + two semi-joins of the edge set against the surviving nodes, all
    * hash-partitioned on node ids — (node, node) longs only, never
    * payloads. Rounds materialize via eager localCheckpoint (converged
    * set staged to parquet once) — the ccWithRounds loop discipline.
    * Early-exits when the edge count is stable: peeling is monotone,
    * so count equality IS fixpoint. */
  def kcore(s: SparkSession, dir: String, k: Int = 4,
            rounds: Int = 10): DataFrame = {
    // staged per (corpus fingerprint, k, rounds) — the mst/diameter
    // protocol (r14): the peel fixpoint runs once per corpus, warm
    // calls read the surviving edge set. Previously this face rebuilt
    // the peel on EVERY call into an overwrite path.
    val stBase = Staging.base("stage_kcore_v3", dir, s"k${k}_r$rounds",
      "documents")
    val finalPath = s"$stBase/data"
    Staging.buildOnce(stBase) { Staging.scratch(s) {
      // Lineage.cut: each peel round references `live` four times
      // (degree rollup both sides + two semi-joins), so preserved
      // checkpoint stats would compound across rounds (see Lineage)
      var live = Lineage.cut(kcEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
      var n = live.count()
      var r = 0
      var done = false
      while (!done && r < rounds) {
        val keep = live.select(col("a").as("node"))
          .unionAll(live.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("node"))
        val next = Lineage.cut(live
          .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
        val nNext = next.count()
        done = nNext == n
        live = next
        n = nNext
        r += 1
      }
      live.write.mode("overwrite").parquet(finalPath)
    } }
    val core = s.read.parquet(finalPath)
    core.select(col("a").as("node"))
      .unionAll(core.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** `graph_ktruss` — bounded k-truss peel (Cohen 2008), the EDGE-
    * level density backbone beside [[kcore]]'s node-level one:
    * repeatedly delete edges supported by < k−2 triangles in the
    * CURRENT subgraph (each deletion can break other edges'
    * triangles) for `rounds` synchronous passes. The truss is the
    * stricter community core — a k-core can be triangle-free, a
    * k-truss cannot — and the r-round peel is well-defined on both
    * engines whether or not the cascade has converged (peeling is
    * idempotent after fixpoint, so the early-exit on a stable edge
    * count changes nothing).
    *
    * The kcore fixture graph is too sparse to cascade (one pass kills
    * every weak edge), so the truss derives its own hub-concentrated
    * md5 graph: node i emits 3 + (h60("kt:i") mod 6) edges into the
    * first ⌈N/8⌉ ids — dense enough that removing one edge keeps
    * breaking neighbors for many rounds. Output: the surviving edges
    * with their support INSIDE the surviving subgraph.
    *
    * Scale shape: per round, support = the standard adjacency wedge
    * join (the triangle-counting shape, hash-partitioned on node
    * ids, (node, node) longs only) + one filter; rounds materialize
    * via eager localCheckpoint with the kcore loop discipline. At a
    * 100 TB edge set the wedge join is the cost — the same low-
    * degree-apex ordering [[triangles]] uses applies verbatim. */
  def ktruss(s: SparkSession, dir: String, k: Int = 4,
             rounds: Int = 6): DataFrame = {
    // hub-concentrated draws land in the first ⌈N/8⌉ RANKS, mapped to
    // real ids (the r14 rewire — see [[rankedDocs]]). `def`: the eager
    // rank pass and the truss peel run only inside the staged build.
    def raw = {
      val ranked = rankedDocs(s, dir)
      ranked
        .select(col("doc_id"), col("n_docs"),
          explode(sequence(lit(0L),
            lit(2L) + pmod(md5Base60(
              concat(lit("kt:"), col("doc_id"))), lit(6L)))).as("j"))
        .select(col("doc_id").as("src"),
          pmod(md5Base60(
            concat(lit("kt:"), col("doc_id"), lit(":"), col("j"))),
            greatest(expr("n_docs DIV 8"), lit(1L))).as("dst_rnk"))
        .join(rankToId(ranked), "dst_rnk")
        .select(col("src"), col("dst"))
        .filter(col("dst") =!= col("src"))
    }
    def support(edges: DataFrame): DataFrame = {
      val adj = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      edges.as("e")
        .join(adj.as("x"), col("x.u") === col("e.a"))
        .join(adj.as("y"),
          col("y.u") === col("e.b") && col("y.v") === col("x.v"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("sup"))
    }
    // staged per (corpus fingerprint, k, rounds) — the mst/diameter
    // protocol (r14): the truss cascade runs once per corpus, warm
    // calls read the surviving edges + support
    val stBase = Staging.base("stage_ktruss_v3", dir, s"k${k}_r$rounds",
      "documents")
    val finalPath = s"$stBase/data"
    Staging.buildOnce(stBase) { Staging.scratch(s) {
      // Lineage.cut: support() references `live` three times per
      // round (edge + both adjacency roles — see Lineage)
      var live = Lineage.cut(raw
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct())
      var n = live.count()
      var r = 0
      var done = false
      while (!done && r < rounds) {
        val next = Lineage.cut(support(live)
          .filter(col("sup") >= k - 2)
          .select(col("a"), col("b")))
        val nNext = next.count()
        done = nNext == n
        live = next
        n = nNext
        r += 1
      }
      live.join(support(live), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("sup"), lit(0L)).as("sup"))
        .write.mode("overwrite").parquet(finalPath)
    } }
    s.read.parquet(finalPath).select(col("a"), col("b"), col("sup"))
  }

  /** `graph_betweenness` — sampled, depth-capped betweenness
    * centrality via Brandes' dependency accumulation (Brandes 2001;
    * the k-bounded pivot-sample approximation of Bader et al. / the
    * "k-betweenness" variant): sources are the PPR seed set (doc_id ≡
    * 0 mod `seedMod`), shortest paths capped at `maxDepth` hops. Per
    * source, a forward BFS computes each node's level and its
    * shortest-path COUNT σ (the σ of a node is the sum of its
    * level-(h−1) predecessors' σ — one grouped join per level, pure
    * integers); the backward pass then accumulates the dependency
    * δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ(w)) level by level.
    * A node's centrality is Σ over sources of δ — the share of
    * sampled shortest paths flowing THROUGH it, the standard
    * "bridge" readout missing from degree/PageRank-style scores.
    *
    * Scale shape: every forward and backward step is one equi-join
    * keyed (seed, node) plus a partial-aggregated sum — the Pregel
    * message pattern the PageRank/BFS/SSSP loops already use; only
    * (seed, node, long) triples shuffle, the loop is 2·maxDepth
    * rounds regardless of graph size, and work is bounded by the
    * sampled seeds' depth-capped balls, not the full graph.
    *
    * Determinism: σ is exactly integral; each backward term quantizes
    * σ_v/σ_w·(1e6 + δ_w) to micros BEFORE the per-node integer sum
    * (partition-order-independent), so δ is a pure integer function
    * of the graph; final ranking ties break node-asc. The DuckDB twin
    * unrolls the same levels as chained CTEs. */
  def betweenness(s: SparkSession, dir: String, seedMod: Int = 97,
                  maxDepth: Int = 4, topK: Int = 100): DataFrame =
    staged(s, dir, "betw", s"${seedMod}_${maxDepth}_$topK") { finalPath =>
      val und = linkEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val nbrs = und.select(col("a").as("node"), col("b").as("nbr"))
        .union(und.select(col("b").as("node"), col("a").as("nbr")))
        .localCheckpoint(true)
      val seeds = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(seedMod.toLong)) === 0L)
        .select(col("doc_id").as("seed"))
      // forward: levels(h) = (seed, node, sigma) of nodes FIRST
      // reached at depth h, sigma = #shortest paths from seed
      var levels = Vector(seeds
        .select(col("seed"), col("seed").as("node"),
          lit(1L).as("sigma")).localCheckpoint(true))
      var settled = levels(0).select(col("seed"), col("node"))
        .localCheckpoint(true)
      for (_ <- 1 to maxDepth) {
        // Lineage.cut: settled appears twice per level (anti-join
        // + union) — see Lineage
        val nxt = Lineage.cut(levels.last.join(nbrs, "node")
          .select(col("seed"), col("nbr").as("node"), col("sigma"))
          .join(settled, Seq("seed", "node"), "left_anti")
          .groupBy(col("seed"), col("node"))
          .agg(sum(col("sigma")).as("sigma")))
        settled = Lineage.cut(settled
          .unionByName(nxt.select(col("seed"), col("node"))))
        levels = levels :+ nxt
      }
      // backward: delta(h) carries only nonzero-dependency nodes;
      // a successor absent from delta(h+1) has delta 0 (coalesce)
      var delta = levels(maxDepth)
        .select(col("seed"), col("node"), lit(0L).as("delta"))
        .filter(lit(false)) // empty frame with the right schema
        .localCheckpoint(true)
      var acc = Vector.empty[DataFrame]
      for (h <- (maxDepth - 1) to 1 by -1) {
        val succ = levels(h + 1)
          .select(col("seed"), col("node").as("w"),
            col("sigma").as("sigma_w"))
          .join(delta.select(col("seed"), col("node").as("w"),
            col("delta").as("delta_w")), Seq("seed", "w"), "left")
          .select(col("seed"), col("w"), col("sigma_w"),
            coalesce(col("delta_w"), lit(0L)).as("delta_w"))
        val dl = levels(h).join(nbrs, "node")
          .select(col("seed"), col("node"), col("sigma"),
            col("nbr").as("w"))
          .join(succ, Seq("seed", "w"))
          .select(col("seed"), col("node"),
            round(col("sigma").cast("double") /
              col("sigma_w").cast("double") *
              (lit(1000000L) + col("delta_w")).cast("double"))
              .cast("long").as("term"))
          .groupBy(col("seed"), col("node"))
          .agg(sum(col("term")).as("delta"))
        acc = acc :+ Lineage.cut(dl)
        delta = acc.last
      }
      acc.reduceOption(_ unionByName _).getOrElse(delta)
        .groupBy(col("node")).agg(sum(col("delta")).as("bc_micros"))
        .orderBy(col("bc_micros").desc, col("node").asc)
        .limit(topK)
        .write.mode("overwrite").parquet(finalPath)
    }.orderBy(col("bc_micros").desc, col("node").asc)

  /** See [[Lineage.cut]] — the loop-carried checkpoint that discards
    * preserved stats (the round-9 Borůvka finding). */
  private def cut(df: DataFrame): DataFrame = Lineage.cut(df)

  /** Partition count for a Borůvka working frame of `n` rows: the
    * contracted edge set shrinks geometrically, and materializing a
    * few-thousand-row frame across all `spark.sql.shuffle.partitions`
    * makes every subsequent round pay one task per empty partition
    * (measured: ~250 ms/job × ~80 jobs at sf0.1 — the whole build
    * budget). Scale down with the data, capped at the cluster's
    * parallelism so a planet-scale round-0 edge set still uses full
    * width. */
  private def boruvkaParts(s: SparkSession, n: Long): Int =
    math.max(1, math.min(s.sparkContext.defaultParallelism,
      ((n + 49999L) / 50000L).toInt))

  /** `graph_mst` — minimum spanning forest via Borůvka (1926; the
    * distributed-MST algorithm of choice — Kruskal and Prim serialize
    * on a global edge order / a single frontier, Borůvka's rounds are
    * embarrassingly parallel and O(log n) many): every component
    * selects its minimum incident inter-component edge, the selected
    * edges merge components, repeat. Edges carry the md5-derived
    * weight w = 1 + h60("mw:a:b") mod 10⁶ over the "mst:" irregular
    * graph (the kcore derivation device), and comparisons use the
    * ENCODED TOTAL ORDER key = w·2⁴⁰ + a·2²⁰ + b — a single long both
    * engines build with integer arithmetic, which tie-breaks equal
    * weights by (a, b) and therefore makes the forest UNIQUE (the
    * spec's union-find Kruskal under the same order reproduces it
    * edge-for-edge). Requires doc_id < 2²⁰ and w < 2²⁰ — both hold by
    * construction here; a larger id space widens the encoding.
    *
    * The within-round contraction exploits that the selection graph
    * is a PSEUDOFOREST: every component emits exactly one parent
    * pointer (the far endpoint of its min edge), and because the
    * encoded keys strictly decrease along any parent chain until two
    * components pick the same edge, every merge tree hangs off exactly
    * one mutual 2-cycle. Breaking the cycle at its min label and
    * pointer-doubling to the root therefore converges in
    * ⌈log₂ depth⌉ passes of a components-sized self-join — no nested
    * connected-components loop (the round-7/8 flagged shape: a full
    * alternating large/small-star run with 3 eager checkpoints per
    * inner round, ≈90 synchronous barriers per cold build). The MST
    * edge set is representative-agnostic (the min key per component
    * only depends on the PARTITION, not the label values), so the
    * oracle's min-label recursive-CTE closure reproduces the same
    * forest edge-for-edge.
    *
    * Between rounds the edge set itself CONTRACTS (true Borůvka):
    * endpoints are relabeled to their component roots and only the
    * min-key representative edge per component pair survives — min of
    * per-pair mins is the pair min, so future selections are
    * unchanged while the working set shrinks geometrically; no
    * per-round relabel join against the full corpus edge set, and no
    * separate node→label map at all. `rounds` = 16 bounds the outer
    * loop (≥ ⌈log₂ n⌉ for every tested SF); the Spark side early-exits
    * at the empty-edge-set fixpoint, and post-fixpoint rounds are
    * no-ops by idempotence — the ktruss contract.
    *
    * Scale shape: per round, one map-side-combined min per component
    * over the contracted edge set, one join-back on the selected keys,
    * 1–2 pointer-doubling self-joins of the (comp, parent) frame, and
    * one relabel+min-by contraction — every frame is component-sized
    * or contracted-edge-sized, both geometrically shrinking. MST
    * output accumulates to staged parquet.
    *
    * HYBRID TAIL: iterative tiny-frame rounds cost a fixed ~0.2 s of
    * driver planning/codegen per job regardless of data, so once the
    * contracted edge set fits `localThreshold` rows the remaining MSF
    * is finished with driver-side Kruskal union-find under the SAME
    * encoded total order — the unique-forest property makes the two
    * paths bit-identical (Round7sSpec pins hybrid ≡ pure-distributed
    * ≡ reference Kruskal). The textbook Borůvka hybrid: on a planet
    * graph components halve per round, so ~log₂(n/threshold)
    * distributed rounds run at full cluster width and the tail —
    * ≤ threshold longs, a bounded model-sized collect per the
    * collect-the-model convention — replaces up to `rounds` more
    * synchronous barriers with microseconds on the driver. */
  def mst(s: SparkSession, dir: String, rounds: Int = 16,
          localThreshold: Long = 100000L): DataFrame = {
    // md5 coins draw the OUT-NEIGHBOR IN RANK SPACE (the r14 rewire,
    // same device as linkEdges): dst = the id at rank md5 % n, so
    // every endpoint is a real doc_id on any id space; rank == doc_id
    // on contiguous driver corpora, so the edge set (and every weight,
    // which hashes the REAL ids) is unchanged there. `def`, not `val`:
    // the eager rank pass must only run inside the staged build, never
    // on a warm read-the-forest call.
    def raw = {
      val ranked = rankedDocs(s, dir)
      ranked
        .select(col("doc_id"), col("n_docs"),
          explode(sequence(lit(0L),
            pmod(md5Base60(
              concat(lit("mst:"), col("doc_id"))), lit(4L)))).as("j"))
        .select(col("doc_id").as("src"),
          pmod(md5Base60(
            concat(lit("mst:"), col("doc_id"), lit(":"), col("j"))),
            col("n_docs")).as("dst_rnk"))
        .join(rankToId(ranked), "dst_rnk")
        .select(col("src"), col("dst"))
        .filter(col("dst") =!= col("src"))
    }
    def edges0 = raw
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .select(col("a"), col("b"),
        (lit(1L) + pmod(md5Base60(
          concat(lit("mw:"), col("a"), lit(":"), col("b"))),
          lit(1000000L))).as("w"))
      .select(col("a"), col("b"), col("w"),
        (col("w") * lit(1099511627776L) +
          col("a") * lit(1048576L) + col("b")).as("key"))
    // staged per corpus fingerprint (the sccLabels/betweenness
    // protocol): the Boruvka rounds run once per (corpus, rounds),
    // warm calls read the parquet forest
    val stBase = Staging.base("stage_mst_v4", dir,
      s"r${rounds}_t$localThreshold", "documents")
    val finalPath = s"$stBase/data"
    Staging.buildOnce(stBase) { Staging.scratch(s) {
      // contracted edge multigraph: ONE min-key representative edge
      // per component pair, components start as the nodes themselves
      var cedges = cut(edges0
        .select(col("a").as("ca"), col("b").as("cb"),
          col("a"), col("b"), col("w"), col("key")))
      var nE = cedges.count()
      var k = boruvkaParts(s, nE)
      cedges = cedges.coalesce(k)
      var mstParts = List.empty[DataFrame]
      var r = 0
      var done = false
      while (!done && r < rounds && nE > localThreshold) {
        val minPer = cedges.select(col("ca").as("comp"), col("key"))
          .unionAll(cedges.select(col("cb").as("comp"), col("key")))
          .groupBy(col("comp")).agg(min(col("key")).as("mk"))
        val sel = cut(minPer.select(col("mk")).distinct()
          .join(cedges, col("mk") === cedges("key"))
          .select(col("a"), col("b"), col("w"), col("ca"), col("cb"),
            col("key"))
          .coalesce(k)) // feeds MST output + parent pointers
        // an empty selection ⟺ no inter-component edges left
        if (sel.isEmpty) { done = true }
        else {
          mstParts ::= sel.select(col("a"), col("b"), col("w"))
          // pseudoforest contraction: parent = far end of my min edge;
          // the unique 2-cycle per merge tree breaks at its min label
          val par0 = minPer
            .join(sel.select(col("key").as("mk"), col("ca").as("ea"),
              col("cb").as("eb")), Seq("mk"))
            .select(col("comp"),
              when(col("comp") === col("ea"), col("eb"))
                .otherwise(col("ea")).as("p"))
          var par = cut(par0
            .join(par0.select(col("comp").as("p"), col("p").as("gp")),
              Seq("p"))
            .select(col("comp"),
              when(col("gp") === col("comp") && col("comp") < col("p"),
                col("comp")).otherwise(col("p")).as("p"))
            .coalesce(k))
          // pointer doubling: keys strictly decrease along chains, so
          // depth is small and this settles in 1-2 passes
          var settled = false
          while (!settled) {
            val j = cut(par
              .join(par.select(col("comp").as("p"), col("p").as("gp")),
                Seq("p"))
              .select(col("comp"), col("p"), col("gp"))
              .coalesce(k))
            settled = j.filter(col("gp") =!= col("p")).isEmpty
            par = j.select(col("comp"), col("gp").as("p"))
          }
          // relabel endpoints to roots, keep the min-key representative
          // per surviving component pair (min of mins = pair min)
          cedges = cut(cedges
            .join(par.select(col("comp").as("ca"), col("p").as("na")),
              Seq("ca"))
            .join(par.select(col("comp").as("cb"), col("p").as("nb")),
              Seq("cb"))
            .filter(col("na") =!= col("nb"))
            .select(least(col("na"), col("nb")).as("ca"),
              greatest(col("na"), col("nb")).as("cb"),
              col("a"), col("b"), col("w"), col("key"))
            .groupBy(col("ca"), col("cb"))
            .agg(min(struct(col("key"), col("a"), col("b"),
              col("w"))).as("m"))
            .select(col("ca"), col("cb"), col("m.a").as("a"),
              col("m.b").as("b"), col("m.w").as("w"),
              col("m.key").as("key"))
            .coalesce(k))
          nE = cedges.count()
          k = boruvkaParts(s, nE)
          r += 1
        }
      }
      // the loop can also exit by exhausting `rounds`; the local tail
      // is only model-sized when the THRESHOLD condition held, so an
      // over-threshold exit fails loudly instead of risking an
      // unbounded driver collect (components halve per round, so the
      // default 16 rounds covers 2^16× the threshold — hitting this
      // means the caller passed a rounds budget too small for the
      // graph, and the fix is more rounds, not a bigger collect)
      if (!done && nE > localThreshold)
        throw new IllegalStateException(
          s"mst: round budget ($rounds) exhausted with $nE contracted " +
            s"edges still above localThreshold=$localThreshold — " +
            "raise rounds; refusing the unbounded driver collect")
      if (!done && nE > 0) {
        // local Kruskal tail over the ≤ threshold contracted edges:
        // MSF of the contraction = the remaining MSF edges, and the
        // encoded order makes the choice unique on every path
        val tail = cedges.select(col("ca"), col("cb"), col("a"),
          col("b"), col("w"), col("key")).collect()
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var root = x
          while (parent.getOrElse(root, root) != root)
            root = parent(root)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nx = parent(c); parent(c) = root; c = nx
          }
          root
        }
        val chosen = tail.sortBy(_.getLong(5)).flatMap { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra == rb) None
          else {
            parent(math.max(ra, rb)) = math.min(ra, rb)
            Some((row.getLong(2), row.getLong(3), row.getLong(4)))
          }
        }.toSeq
        if (chosen.nonEmpty) {
          import s.implicits._
          mstParts ::= chosen.toDF("a", "b", "w")
        }
      }
      mstParts.reduceOption(_ unionAll _)
        .getOrElse(edges0.select(col("a"), col("b"), col("w")).limit(0))
        .write.mode("overwrite").parquet(finalPath)
    } }
    s.read.parquet(finalPath).select(col("a"), col("b"), col("w"))
  }

  /** `graph_diameter` — diameter lower bound via the classic DOUBLE
    * SWEEP (Magnien-Latapy-Habib 2009; the 2-BFS trick behind iFUB):
    * BFS from a fixed seed, take the farthest node A (its eccentricity
    * already lower-bounds the diameter), BFS again from A — the
    * second eccentricity is the double-sweep bound, empirically exact
    * on most real graphs. Runs over the [[kcEdges]] graph [[kcore]]
    * peels (shared deliberately — one fixture, many lenses); seed = min
    * doc_id, farthest-ties broken by min node. Both sweeps are
    * depth-16-capped synchronous BFS (≥ the fixture diameter at every
    * tested SF; the r-round contract is well-defined either way — the
    * ktruss device), and a node is reachable within the cap on one
    * engine iff on the other, since a length-L walk exists iff the
    * shortest path is ≤ L.
    *
    * Scale shape: per level one frontier-adjacency hash join + one
    * anti-join against the visited map — the Pregel BFS shape, (node,
    * node) longs only; the farthest-node pick is orderBy+limit(1)
    * (TakeOrderedAndProject); the second sweep seeds from that 1-row
    * frame by join, no collect anywhere. */
  def diameter(s: SparkSession, dir: String, maxDepth: Int = 16)
      : DataFrame = {
    val stBase = Staging.base("stage_diam_v3", dir, s"d$maxDepth",
      "documents")
    val finalPath = s"$stBase/data"
    Staging.buildOnce(stBase) { Staging.scratch(s) {
      val und = kcEdges(s, dir)
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .unionAll(und.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint(true)
      def bfs(seed: DataFrame): DataFrame = {
        // Lineage.cut: dist appears twice per round (frontier filter
        // + anti-join) — see Lineage
        var dist = Lineage.cut(seed.select(col("node"), lit(0L).as("dist")))
        var r = 0L
        var done = false
        while (!done && r < maxDepth) {
          val next = dist.filter(col("dist") === r)
            .join(adj, col("node") === col("u"))
            .select(col("v").as("node")).distinct()
            .join(dist.select(col("node")), Seq("node"), "left_anti")
            .select(col("node"), lit(r + 1L).as("dist"))
          if (next.isEmpty) done = true
          else {
            dist = Lineage.cut(dist.unionAll(next))
            r += 1
          }
        }
        dist
      }
      val d1 = bfs(Tables.documents(s, dir)
        .agg(min(col("doc_id")).as("node")))
      val farA = d1.orderBy(col("dist").desc, col("node").asc).limit(1)
        .localCheckpoint(true)
      val d2 = bfs(farA.select(col("node")))
      val farB = d2.orderBy(col("dist").desc, col("node").asc).limit(1)
      d1.agg(count(lit(1)).as("n_reached"))
        .crossJoin(farA.select(col("node").as("far_a"),
          col("dist").as("ecc_a")))
        .crossJoin(farB.select(col("node").as("far_b"),
          col("dist").as("diameter_lb")))
        .select(col("n_reached"), col("far_a"), col("ecc_a"),
          col("far_b"), col("diameter_lb"))
        .write.mode("overwrite").parquet(finalPath)
    } }
    s.read.parquet(finalPath)
      .select(col("n_reached"), col("far_a"), col("ecc_a"),
        col("far_b"), col("diameter_lb"))
  }

  /** `graph_scc` — strongly connected components of a DIRECTED md5
    * graph over the capped doc_id range: reachability by
    * path-doubling (R ← R ∪ R∘R, ⌈log₂ cap⌉ = 8 rounds — a FIXED,
    * convergence-check-free round count, since 2⁸ ≥ any simple-path
    * length in a ≤240-node graph), then SCC(u) = min{v : u↔v} from
    * the closure joined with its transpose. The DIRECTED sibling of
    * [[connected]]'s undirected components — mutual reachability is
    * what separates a citation loop from a mere chain, and none of
    * the existing faces (kcore/ktruss/CC) can see direction.
    *
    * The node set is id-capped (the geo3/geo5/dbscan convention): the
    * closure is quadratic IN THE AUDITED SUBGRAPH by nature — |R| ≤
    * cap² pairs — so the cap is what keeps both the operator and the
    * DuckDB oracle's recursive-CTE closure replay bounded at every
    * SF; at 100 TB this runs per community/domain partition (the
    * khop/closeness seed-set discipline), never on the full crawl
    * graph. Every step is exact integer id arithmetic — determinism
    * is free; each doubling round re-shuffles on the join key only.
    *
    * Scale shape per round: one self-join of R hash-partitioned on
    * the middle node + distinct — Spark's canonical iterative-closure
    * plan; no windows, no driver loop state beyond the 8 fixed
    * iterations. */
  def scc(s: SparkSession, dir: String, cap: Int = 240): DataFrame =
    sccLabels(s, dir, cap)
      .groupBy(col("scc_label"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("scc_label").asc)

  /** The capped md5 digraph shared by [[scc]] and [[condense]]. */
  private def sccEdges(s: SparkSession, dir: String, cap: Int)
      : DataFrame = {
    // the cap selects the `cap` LOWEST-RANKED docs and draws dsts in
    // rank space [0, cap) (r14 rewire — rnk == doc_id on contiguous
    // corpora); md5 keys still hash the REAL ids. EAGER (rank pass) —
    // both callers are already-eager fixpoint loops.
    val ranked = rankedDocs(s, dir)
    ranked.filter(col("rnk") < cap)
      .select(col("doc_id"),
        explode(sequence(lit(0L),
          pmod(md5Base60(
            concat(lit("scc:"), col("doc_id"))), lit(2L)))).as("j"))
      .select(col("doc_id").as("src"),
        pmod(md5Base60(
          concat(lit("scc:"), col("doc_id"), lit(":"), col("j"))),
          lit(cap.toLong)).as("dst_rnk"))
      .join(rankToId(ranked), "dst_rnk")
      .select(col("src"), col("dst"))
      .filter(col("dst") =!= col("src"))
      .distinct()
  }

  /** (node, scc_label) via path-doubling closure + mutual-pair min —
    * see [[scc]]'s scaladoc for the algorithm and cap rationale.
    * STAGED per (corpus, cap) fingerprint (the Staging protocol):
    * [[scc]] and [[condense]] share one closure build instead of each
    * re-running it — the iterative-graph-result caching every
    * downstream-of-an-expensive-fixpoint operator uses. */
  private def sccLabels(s: SparkSession, dir: String, cap: Int)
      : DataFrame = {
    val basePath = Staging.base("scc_labels_v2", dir, s"cap$cap",
      "documents")
    Staging.buildOnce(basePath)(Staging.scratch(s) {
      sccLabelsCompute(s, dir, cap).write.mode("overwrite")
        .parquet(s"$basePath/labels")
    })
    s.read.parquet(s"$basePath/labels")
  }

  private def sccLabelsCompute(s: SparkSession, dir: String, cap: Int)
      : DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") < cap)
    val edges = sccEdges(s, dir, cap)
    // reflexive seed: u reaches u — makes the closure monotone and the
    // mutual-pair join self-inclusive (singletons label themselves)
    var reach = Lineage.cut(edges
      .unionByName(docs.select(col("doc_id").as("src"),
        col("doc_id").as("dst")))
      .distinct())
    // 2^8 ≥ cap bounds the rounds; the closure is MONOTONE, so an
    // unchanged pair count IS the fixpoint — exact early exit (the
    // count is one action on the ≤cap² checkpointed frame)
    var prev = reach.count()
    var done = false
    for (_ <- 1 to 8 if !done) {
      // Lineage.cut: path doubling references `reach` three times
      // per round — see Lineage
      reach = Lineage.cut(reach
        .unionByName(reach.as("a")
          .join(reach.as("b"), col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst")))
        .distinct())
      val cur = reach.count()
      done = cur == prev
      prev = cur
    }
    val mutual = reach.as("f")
      .join(reach.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .select(col("f.src").as("u"), col("f.dst").as("v"))
    mutual.groupBy(col("u"))
      .agg(min(col("v")).as("scc_label"))
  }

  /** `graph_condense` — the CONDENSATION of [[scc]]'s digraph: each
    * strongly connected component collapses to one DAG node, and every
    * component gets its topological DEPTH — the longest path (in DAG
    * edges) from any source component — via max-plus path doubling
    * (L ← max(L, L⊕L), 8 rounds ≥ log₂ of any simple path in a ≤240-
    * node graph, so the fixpoint is guaranteed, never convergence-
    * checked). This is the stage-scheduling view of a dependency
    * graph: depth = the earliest wave a component can run in, and the
    * max depth is the critical-path length. Same cap discipline and
    * 100 TB per-partition framing as [[scc]].
    *
    * Scale shape per round: one self-join of the (src, dst, len) pair
    * frame on the middle node + a max-rollup — the scc closure plan
    * with an integer payload riding along. */
  def condense(s: SparkSession, dir: String, cap: Int = 240)
      : DataFrame = {
    // staged per (corpus fingerprint, cap) — the max-plus doubling
    // fixpoint runs once per corpus (r14; previously per call); the
    // ordering is applied AFTER the parquet read since files don't
    // carry it
    val stBase = Staging.base("stage_cond_v1", dir, s"cap$cap",
      "documents")
    val finalPath = s"$stBase/data"
    Staging.buildOnce(stBase) { Staging.scratch(s) {
    val labels = sccLabels(s, dir, cap).localCheckpoint(true)
    val dagEdges = sccEdges(s, dir, cap)
      .join(labels.withColumnRenamed("u", "src")
        .withColumnRenamed("scc_label", "ls"), "src")
      .join(labels.withColumnRenamed("u", "dst")
        .withColumnRenamed("scc_label", "ld"), "dst")
      .filter(col("ls") =!= col("ld"))
      .select(col("ls").as("src"), col("ld").as("dst"))
      .distinct()
    val comps = labels.select(col("scc_label")).distinct()
    var paths = Lineage.cut(
      dagEdges.select(col("src"), col("dst"), lit(1L).as("len"))
        .unionByName(comps.select(col("scc_label").as("src"),
          col("scc_label").as("dst"), lit(0L).as("len")))
        .groupBy(col("src"), col("dst")).agg(max(col("len")).as("len")))
    // max-plus doubling: longest DAG paths; monotone in Σlen, so an
    // unchanged total is the exact fixpoint (same device as the
    // closure above — lengths only ever grow on an acyclic DAG)
    var prev = -1L
    var done = false
    for (_ <- 1 to 8 if !done) {
      // Lineage.cut: max-plus doubling references `paths` three
      // times per round — see Lineage
      paths = Lineage.cut(paths
        .unionByName(paths.as("a")
          .join(paths.as("b"), col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"),
            (col("a.len") + col("b.len")).as("len")))
        .groupBy(col("src"), col("dst")).agg(max(col("len")).as("len")))
      val cur = paths.agg(sum(col("len")).cast("long"))
        .collect().head.getLong(0)
      done = cur == prev
      prev = cur
    }
    val depth = paths.groupBy(col("dst").as("scc_label"))
      .agg(max(col("len")).as("depth"))
    labels.groupBy(col("scc_label")).agg(count(lit(1)).as("size"))
      .join(depth, "scc_label")
      .write.mode("overwrite").parquet(finalPath)
    } }
    s.read.parquet(finalPath)
      .select(col("scc_label"), col("size"), col("depth"))
      .orderBy(col("depth").asc, col("scc_label").asc)
  }
}
