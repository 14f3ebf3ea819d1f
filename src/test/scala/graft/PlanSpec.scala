package graft

import graft.operators._
import org.apache.spark.sql.functions.col

/** Physical-plan assertions: the optimizations we design for at 100 TB
  * must actually appear in the executed plan — filter/column pushdown
  * into the parquet scan, broadcast joins for dims, per-partition top-k
  * (TakeOrderedAndProject), whole-stage codegen coverage.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q1: ship-date filter and column pruning reach the parquet scan") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // pruned read: quantity/price/discount/flags only, no orderkey/partkey
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_partkey"), "scan reads columns the query never uses")
  }

  test("sql1: the spark.sql form compiles to the same plan shape as q1") {
    val pSql = plan(Relational.sql1PricingSummary(spark, sf))
    val pDf = plan(Relational.q1PricingSummary(spark, sf))
    // same operator skeleton: scan with the pushed filter, partial+final
    // hash aggregation — Catalyst erases the API difference
    for (marker <- Seq("PushedFilters: [IsNotNull(l_shipdate)",
        "HashAggregate", "FileScan parquet")) {
      assert(pSql.contains(marker), s"sql plan missing $marker:\n$pSql")
      assert(pDf.contains(marker), s"df plan missing $marker:\n$pDf")
    }
    assert("HashAggregate".r.findAllIn(pSql).size ===
      "HashAggregate".r.findAllIn(pDf).size)
  }

  test("q1: aggregation is partial (map-side combine) + final") {
    val p = plan(Relational.q1PricingSummary(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  test("j1: dimension joins broadcast, no shuffle of the dims") {
    val p = plan(Relational.j1RegionRevenue(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"customer/nation/region should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("j2/j3: semi and anti joins plan as (Broadcast)HashJoin, not join+distinct") {
    val p2 = plan(Relational.j2SemiJoin(spark, sf))
    val p3 = plan(Relational.j3AntiJoin(spark, sf))
    assert(p2.contains("LeftSemi"), p2)
    assert(p3.contains("LeftAnti"), p3)
  }

  test("oq4/oq5: top-k plans as TakeOrderedAndProject, never a global sort") {
    val p4 = plan(Audits.oq4TopK(spark, sf))
    val p5 = plan(Audits.oq5TopK(spark, sf))
    assert(p4.contains("TakeOrderedAndProject"), p4)
    assert(p5.contains("TakeOrderedAndProject"), p5)
  }

  test("s6: key-mod sampling keeps a single scan, no shuffle") {
    val p = plan(Audits.s6Sample(spark, sf))
    assert(!p.contains("Exchange"), s"sampling must be a narrow map:\n$p")
  }

  test("ann brute-force: query side broadcast + top-k, corpus never shuffled") {
    val p = plan(Similarity.annBruteForce(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("w1c: custom strategy plans Filter(rn=1)+Window as TopKPerKeyExec, no sort") {
    val df = Relational.w1TopOrderPerCustomer(spark, sf)
    val p = plan(df)
    // two heap phases (map-side partial + post-exchange final) ...
    assert(p.contains("TopKPerKey (partial)"), s"no map-side phase:\n$p")
    assert(p.contains("TopKPerKey (final)"), s"custom strategy did not fire:\n$p")
    // ... replacing Window/WindowGroupLimit AND all their sorts
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), s"the whole point is removing the sort:\n$p")
    // custom exec output must equal the independent aggregation plan's
    val viaStrategy = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val viaMaxBy = Relational.w1bTopOrderMaxBy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(viaStrategy.sameElements(viaMaxBy))
  }

  test("w1c: partial-phase key budget flushes without changing results") {
    // a 2-key budget on ~1500 customers forces hundreds of mid-stream
    // flushes per input partition; the final phase must merge the
    // repeated partial emissions back to the exact window semantics
    val conf = graft.plans.TopKPerKeyStrategy.PartialMaxKeysConf
    spark.conf.set(conf, "2")
    try {
      val tiny = Relational.w1TopOrderPerCustomer(spark, sf)
      assert(plan(tiny).contains("TopKPerKey (partial)"))
      val got = tiny.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      // the reference is plain Spark's Window plan, not the heap exec
      val ref = Relational.w1TopOrderPerCustomer(SparkSpec.isolated(), sf)
      assert(!plan(ref).contains("TopKPerKey"), plan(ref))
      val want = ref.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(got.sameElements(want))
      // the 2-key budget must also have driven the FINAL phase to its
      // disk stripes (~375 keys per hash partition vs budget 2) —
      // proved by the spill metric, not just by surviving. AQE wraps
      // stages, so walk through adaptive/stage nodes explicitly.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
        case q: QueryStageExec => p +: allNodes(q.plan)
        case other => other +: other.children.flatMap(allNodes)
      }
      val spilled = allNodes(tiny.queryExecution.executedPlan).collect {
        case t: graft.plans.TopKPerKeyExec if !t.partial =>
          t.metrics("spillRows").value
      }.sum
      assert(spilled > 0, "final phase never spilled under a 2-key budget")
    } finally spark.conf.unset(conf)
  }

  test("pii redact / gopher filter / stratified sample are narrow single-scan maps") {
    val docs = Tables.documents(spark, sf)
    Seq(
      TextAnalysis.piiRedact(Fixtures.withPii(docs)),
      TextAnalysis.gopherFilter(docs),
      Sampling.stratifiedByLang(docs, Map("en" -> 50), 20),
      Sampling.trainTestSplit(docs)
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("Exchange"),
        s"per-document op must not shuffle:\n$p")
      // "*(n)" node prefixes = whole-stage-codegen'd spans
      assert(p.contains("*("), s"op fell out of codegen:\n$p")
    }
  }

  test("pipe1: fused pipeline = digest agg + broadcast join + rollup only") {
    val p = plan(Preprocess.pipeline(spark, sf))
    // two narrow-key exchanges (digest dedup, per-lang rollup); the
    // canonical set comes back as a broadcast, never a shuffled join
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("samp2: deterministic reservoir plans through TopKPerKeyExec, no sort") {
    val p = plan(Sampling.topNPerStratum(Tables.documents(spark, sf), 5))
    assert(p.contains("TopKPerKey (partial)"), p)
    assert(!p.contains("Sort "), s"reservoir must not sort the corpus:\n$p")
  }

  test("w1b: per-key top-1 as aggregation — no window, partial before exchange") {
    val p = plan(Relational.w1bTopOrderMaxBy(spark, sf))
    assert(!p.contains("Window"), s"max_by form must not sort-shuffle:\n$p")
    assert("Aggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation before the exchange:\n$p")
  }

  test("rj1: range join broadcasts the bounds table") {
    val p = plan(Relational.rj1ValueTiers(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ann IVF: zero-shuffle assignment — no window, no corpus exchange") {
    val p = plan(Similarity.annIvf(spark, sf))
    assert(!p.contains("Window"), s"argmin must not be a window:\n$p")
    // the only join is the broadcast probe join; corpus rows never
    // hash-partition (the lone Exchange allowed is the broadcast one)
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled during IVF assignment:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dedup exact: partial aggregation before the shuffle (digests cross, not documents)") {
    val p = plan(Dedup.exact(Tables.documents(spark, sf)))
    assert(p.contains("partial_count"),
      s"no map-side combine before the exchange:\n$p")
    // the partial aggregate's output (digest key + partial counters) is
    // what crosses the wire — the text column must not appear in it
    val partialLine = p.linesIterator
      .find(_.contains("partial_count")).getOrElse("")
    assert(!partialLine.contains("text#"),
      s"document text crosses the shuffle:\n$partialLine")
  }

  test("j4: bucketed tables join with zero Exchange on either side") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      // force the join to actually exercise bucketing (a broadcast
      // join would also skip the shuffle, but for the small-side
      // reason, not the physical-design reason under test)
      spark.conf.set(key, "-1")
      val p = plan(Relational.j4BucketedJoin(spark, sf))
      val cut = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin")
      val joinSection = if (cut < 0) p else p.substring(cut)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!joinSection.contains("Exchange"),
        s"bucketed join still shuffles an input:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("dedup incremental: bloom gate is a scalar subquery, batch scan stays narrow") {
    val df = Dedup.incremental(Tables.documents(spark, sf),
      Fixtures.crawlBatch(Tables.documents(spark, sf)))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain") || p.contains("Subquery"),
      s"bloom prefilter missing from the plan:\n$p")
    // exactness: bloom-pruned result ≡ the plain anti-join
    val expected = Fixtures.crawlBatch(Tables.documents(spark, sf))
      .join(Tables.documents(spark, sf).select(col("text")).distinct(),
        Seq("text"), "left_anti")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val got = df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("bm25: term filter precedes the tf count, idf/stats broadcast, top-k per-partition") {
    val df = TextAnalysis.bm25(Tables.documents(spark, sf),
      Seq("spark", "query", "filter"))
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"idf/stats should broadcast:\n$p")
    // the postings explode is filtered to query terms BEFORE the
    // (doc, term) count — the optimized plan keeps the isin filter
    // under the generate, not above the aggregate
    val o = df.queryExecution.optimizedPlan.toString
    assert(o.contains("term#") && o.contains("INSET") || o.contains("IN ("),
      s"term filter missing from optimized plan:\n$o")
  }

  test("pack1: one shuffle total — the aggregate reuses the window's partitioning") {
    // Window partitions by source; groupBy(source, seq_id) requires
    // clustering by a superset, so HashPartitioning(source) already
    // satisfies it — EnsureRequirements must not add a second exchange.
    val p = plan(Packing.packSequences(spark, sf))
    assert("Exchange".r.findAllIn(p).size === 1, p)
    // tokenization collapses to a count BELOW the exchange: only
    // (doc_id, source, n_tokens) narrow rows are shuffled. In the plan
    // string the map-side child prints after the Exchange node.
    assert(p.indexOf("Exchange") < p.indexOf("size(filter(split"),
      s"tokenization not on the map side of the shuffle:\n$p")
  }

  test("chunk1: zero shuffles — chunk fan-out is a narrow posexplode") {
    val p = plan(Packing.ragChunks(spark, sf))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate posexplode"), p)
  }

  test("sql3: dims broadcast, only the fact-fact join shuffles") {
    val df = Relational.sql3LocalVolume(spark, sf)
    df.collect() // let AQE finalize join strategies
    val p = plan(df)
    // customer/supplier/nation/region all join as broadcasts
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    // the date filter reaches the orders scan
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)") ||
      p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("stat3: count/min/max answered from parquet footers, no data pages") {
    val p = plan(Relational.stat3FooterStats(spark, sf))
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate not pushed to the scan:\n$p")
    assert(p.contains("MIN(o_totalprice)") && p.contains("MAX(o_totalprice)"), p)
  }

  test("sql20 (TPC-H Q4): EXISTS decorrelates to a LeftSemi join; the " +
      "quarter window is pushed to the orders scan") {
    val p = plan(Relational.sql20OrderPriority(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("PushedFilters: [IsNotNull(o_orderdate)"), p)
  }

  test("sql21 (TPC-H Q6): every predicate reaches the parquet scan; " +
      "the read is pruned to the four referenced columns") {
    // plan toString truncates PushedFilters — read the scan node's
    // untruncated metadata instead
    val df = Relational.sql21ForecastRevenue(spark, sf)
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val scan = walk(df.queryExecution.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no parquet scan in the plan"))
    val pushed = scan.metadata("PushedFilters")
    for (m <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity"))
      assert(pushed.contains(m), s"predicate not pushed ($m): $pushed")
    assert(scan.schema.fieldNames.toSet ===
      Set("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
      "scan must read exactly the four referenced columns")
  }

  test("ann IVF indexed: query reads ONLY the probed cell partitions; " +
      "results identical to the in-session IVF") {
    val df = Similarity.annIvfIndexed(spark, sf)
    val p = plan(df)
    // the nprobe cell ids must land as a STATIC partition filter on the
    // cell-partitioned index scan — the O(probed cells) read is the
    // whole point of persisting the inverted file
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(p).isDefined,
      s"no static partition pruning on the index scan:\n$p")
    val indexed = df.collect().map(_.toSeq).toSeq
    val inSession = Similarity.annIvf(spark, sf).collect().map(_.toSeq).toSeq
    assert(indexed === inSession,
      "persisted-index IVF must be bit-identical to the in-session IVF")
  }

  test("ann LSH indexed: query reads ONLY its bands' bucket partitions; " +
      "results identical to the in-session LSH") {
    val df = Similarity.annLshIndexed(spark, sf)
    val p = plan(df)
    // the query's 4 (band, bval) pairs must land as a STATIC partition
    // filter on the (band, bval)-partitioned signature table — the
    // O(matched buckets) read is the point of persisting the index
    assert("PartitionFilters: \\[\\(*\\(+band#\\d+".r.findFirstIn(p).isDefined,
      s"no static partition pruning on the signature index scan:\n$p")
    assert("bval#\\d+ = ".r.findFirstIn(p).isDefined,
      s"bval not part of the static partition filter:\n$p")
    val indexed = df.collect().map(_.toSeq).toSeq
    val inSession = Similarity.annLsh(spark, sf).collect().map(_.toSeq).toSeq
    assert(indexed === inSession,
      "persisted-index LSH must be bit-identical to the in-session LSH")
  }

  test("ann IVF-PQ indexed: query reads ONLY the probed cell partitions " +
      "with stored codes; results identical to the in-session IVF-PQ") {
    val df = Similarity.annIvfPqIndexed(spark, sf)
    val p = plan(df)
    assert("PartitionFilters: \\[cell#\\d+ IN".r.findFirstIn(p).isDefined,
      s"no static partition pruning on the IVF-PQ index scan:\n$p")
    val indexed = df.collect().map(_.toSeq).toSeq
    val inSession = Similarity.annIvfPq(spark, sf).collect().map(_.toSeq).toSeq
    assert(indexed === inSession,
      "persisted-index IVF-PQ must be bit-identical to the in-session form")
  }

  test("stat20's production quantile path is shuffle-bounded: " +
      "one exchange, partial GK sketch below it, no exact percentile") {
    val df = Sketches.approxQuantilesSketchOnly(spark, sf)
    df.collect()
    // AQE echoes the pre-adaptive plan under "== Initial Plan ==" —
    // count operators in the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // partial sketch aggregation runs BEFORE the shuffle, so only
    // bounded ~accuracy-entry sketches cross the wire
    assert("partial_approx_percentile".r.findFirstIn(p).isDefined,
      s"no map-side partial sketch aggregate:\n$p")
    // exactly one data exchange (the partial->final merge); the exact
    // percentile's memory-unbounded buffering must not appear
    assert("Exchange".r.findAllIn(p).size === 1,
      s"expected exactly one exchange:\n$p")
    assert("(?<!approx_)percentile\\(m".r.findFirstIn(p).isEmpty,
      s"exact percentile leaked into the production path:\n$p")
  }

  test("stat42's sketch-median Levene face never sorts or windows " +
      "data: GK partials + broadcast join-back only") {
    val df = Relational.stat42LeveneSketch(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // group centers come from per-partition GK sketch partials
    assert("partial_approx_percentile".r.findFirstIn(p).isDefined,
      s"no map-side partial sketch aggregate:\n$p")
    // the whole point of the face: no rank window, no data-sized sort
    assert(!p.contains("Window"), s"window leaked into the plan:\n$p")
    assert(!p.contains("Sort"), s"sort leaked into the plan:\n$p")
    // the k-row center frame joins back as a broadcast, never a SMJ
    assert(p.contains("BroadcastHashJoin"),
      s"expected a broadcast join-back:\n$p")
  }

  test("sim_ann_bq keeps both top-k passes heap-bounded: " +
      "TakeOrderedAndProject, never a global sort") {
    val df = Similarity.annBinaryQuant(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition top-k heaps:\n$p")
    assert(!"(?m)^\\s*[+:-]*\\s*\\*?\\(?\\d*\\)?\\s*Sort ".r
      .findFirstIn(p).isDefined,
      s"global sort leaked into the BQ plan:\n$p")
  }

  test("whole-stage codegen covers the q1 hot path") {
    // AQE prints codegen spans only in the FINAL plan — execute first
    val df = Relational.q1PricingSummary(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the final plan
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p)
  }

  test("tok3: the corpus side joins the vocab model via broadcast, no corpus shuffle before the join") {
    val df = Training.bpeDocTokens(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // the only Exchanges are the model broadcast + the final per-doc
    // aggregate — the exploded corpus never hash-partitions by word
    assert(!p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning\\(word".r.findAllIn(p).isEmpty,
      s"corpus shuffled on word:\n$p")
  }

  test("quality adaptive: one shuffle — rank and count share the source window partitioning") {
    val p = plan(TextAnalysis.qualityAdaptive(spark, sf))
    assert("Exchange".r.findAllIn(p).size === 1, p)
    // tokenize collapses to n_tokens below the exchange
    assert(p.indexOf("Exchange") < p.indexOf("size(filter(split"),
      s"tokenization not on the map side:\n$p")
  }

  test("mix4: totals broadcast as a single-row side; one window shuffle on source") {
    val p = plan(TextAnalysis.tokenBudget(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the CORPUS path (everything above the BroadcastExchange node —
    // the totals subtree prints below it and is 20-row scale) shuffles
    // exactly once: the source window
    val mainPath = p.substring(0, p.indexOf("BroadcastExchange"))
    assert("Exchange hashpartitioning".r.findAllIn(mainPath).size === 1,
      p)
  }

  test("link prediction: wedge candidates via equi-join, never cartesian") {
    val p = plan(Graphs.linkPredict(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("containment: shingle-keyed postings equi-join, never cartesian") {
    val p = plan(Dedup.containmentPairs(Fixtures.mutantSlice(spark, sf)))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("knn: query side broadcasts; rank filter plans through TopKPerKey") {
    val p = plan(Similarity.knnClassify(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(p.contains("TopKPerKey (partial)"),
      s"per-query top-k must heap, not sort:\n$p")
    assert(!p.contains("Sort "), p)
  }

  test("mad outliers: one events scan feeding the checkpointed histogram") {
    val p = plan(Relational.stat22MadOutliers(spark, sf))
    // every downstream branch reads the materialized histogram, so the
    // executed plan contains NO parquet scan of events at all
    assert(!p.contains("FileScan parquet"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("naive bayes: model and priors broadcast; the only data-sized " +
    "shuffles are the train word-count and the per-(doc, lang) sum") {
    val p = plan(graft.operators.Training.naiveBayes(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"token scorer must broadcast the vocab-sized model:\n$p")
    // the confusion rollup and argmax run on doc-cardinality frames;
    // no cartesian anywhere (the lang grid completes via broadcast)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rfm grid: single events scan; quintiles rank the checkpointed " +
    "user frame, never events") {
    val p = plan(graft.operators.EventAnalytics.rfm(spark, sf))
    // the per-user aggregate checkpoints, so downstream (recency
    // anchor + quintiles + cell rollup) reads NO parquet at all
    assert(!p.contains("FileScan parquet"),
      s"everything after the checkpointed per-user frame must be scan-free:\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ql dirichlet: broadcast stats, top-k as TakeOrderedAndProject") {
    val p = plan(graft.operators.Retrieval.qlDirichlet(spark, sf))
    // the |q|-row term-stats frame and the 1-row corpus total reach
    // the candidates as broadcasts; the ranking never global-sorts
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("permutation test: the BxN expansion partial-aggregates " +
    "map-side — only B rows reach the shuffle") {
    val p = plan(graft.operators.Relational
      .stat31Permutation(spark, sf))
    // explode(sequence) is a narrow map; the per-b aggregation must
    // show a partial_sum before its exchange, and the observed-gap
    // frame arrives as a broadcast, never a join shuffle
    assert(p.contains("Generate explode"), p)
    assert("partial_sum".r.findFirstIn(p).isDefined ||
      p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), s"obs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("gbdt stump sweep: bin aggregates shuffle, never orders") {
    val p = plan(graft.operators.Training.ml21Stump(spark, sf))
    // the sweep windows run over (feature, bin) aggregates — the only
    // sorts in the plan are the window's bin-ordered ones, and no
    // cartesian anything
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("maxscore: UB and θ broadcast to the postings, top-k is " +
    "TakeOrderedAndProject, pruning adds no data-sized sort") {
    val p = plan(graft.operators.TextAnalysis.bm25MaxScore(
      graft.Tables.documents(spark, sf), Seq("spark", "query", "filter")))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only window is the per-term θ ranking, partitioned by term —
    // never a global single-partition sort of the postings
    assert(p.contains("Window"), p)
  }

  test("km survival: one data-sized rollup, windows only over the " +
    "calendar-bounded day frame") {
    val p = plan(graft.operators.EventAnalytics.kmSurvival(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("bh-fdr: the B×N expansion partial-aggregates map-side and " +
    "the BH windows run over the m-row p frame") {
    val p = plan(graft.operators.Relational.stat32BhFdr(spark, sf))
    assert(p.contains("Generate explode"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortMergeJoin"), s"obs must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("isotonic: the minimax joins run over broadcast K-row model " +
    "frames, never a shuffled data-sized join") {
    val p = plan(graft.operators.Profiling.isotonicCalibration(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ngram novelty: final join exchanges doc-keyed aggregates, " +
    "not the gram table") {
    val p = plan(graft.operators.TextAnalysis.ngramNovelty(spark, sf))
    // both join inputs are HashAggregates (per-doc totals and
    // first-seen counts); the gram-level frame never re-joins
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
    // token_ngrams is native: no interpreted size() filter duplicates
    // the gram computation below the explode
    assert(!p.contains("Filter (size(token_ngrams"), p)
    assert(p.contains("token_ngrams"), p)
  }

  test("round 8: single-pass sufficient-statistics faces never " +
    "shuffle wider than 1-row partials") {
    // JB and LDA are one scan + one partial/final agg pair: exactly
    // one Exchange (of the 1-row partials), no window, no join
    Seq(Profiling.stat39JarqueBera(spark, sf),
      Training.ml26Lda(spark, sf)).foreach { df =>
      val p = plan(df)
      assert("Exchange".r.findAllIn(p).size == 1, p)
      assert(!p.contains("Window"), p)
      assert(!p.contains("Join"), p)
    }
  }

  test("round 8: Grubbs argmax is TakeOrderedAndProject against " +
    "broadcast stats, never a global sort") {
    val p = plan(Profiling.stat40Grubbs(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortExec"), p)
  }

  test("round 8: FD audit broadcasts both dimensions and keeps one " +
    "fact scan") {
    val p = plan(Profiling.prof6FdDiscovery(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 3, p)
  }

  test("round 8: 3-way lift cuts with TakeOrderedAndProject and " +
    "broadcast supports; the served face is a detached local top-K") {
    // the production face detaches its <=20-row result via
    // materializedLocal (so the cached basket rollup can unpersist),
    // which hides the physical shape — assert it on the shared
    // uncached plan face instead
    val p = plan(Recommend.lift3PlanFace(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    // exactly ONE data-sized shuffle: the per-order basket rollup
    // (the triple-domain agg + broadcast subqueries are bounded)
    assert(p.contains("collect_set"), p)
    val served = plan(Recommend.rec6Lift3(spark, sf))
    assert(served.contains("LocalTableScan") ||
      served.contains("Scan ExistingRDD"), served)
  }

  test("round 8: silhouette centroid model broadcasts back to the " +
    "melted scan") {
    val p = plan(Training.ml27Silhouette(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tok10/chunk2: the per-row work runs in the native kernels, " +
      "no interpreted HOF lambdas left in the hot path") {
    val pTok = plan(Training.tok10WordPiece(spark, sf))
    assert(pTok.contains("wordpiece_segment"),
      s"tok10 lost its native kernel:\n$pTok")
    assert(!pTok.contains("lambdafunction"),
      s"tok10 still carries an interpreted HOF:\n$pTok")
    val pCdc = plan(Packing.cdcChunks(spark, sf))
    assert(pCdc.contains("cdc_boundaries"),
      s"chunk2 lost its native kernel:\n$pCdc")
    // the per-CHARACTER scan is the kernel; the only HOF left is the
    // boundary-count-sized span zip (zip_with over ends/starts) and
    // the per-CHUNK digest projection — assert the per-position
    // filter-over-sequence lambda specifically is gone
    assert(!pCdc.contains("filter(sequence"),
      s"chunk2 still scans windows via a per-position filter lambda:\n$pCdc")
  }

  test("mm9: frame energies come from the native kernel") {
    val p = plan(Multimodal.mm9Silence(spark, sf))
    assert(p.contains("frame_energies"),
      s"mm9 lost its native kernel:\n$p")
  }

  test("pack3 FIM is a zero-shuffle narrow projection") {
    val p = plan(Packing.fimTransform(spark, sf))
    assert(!p.contains("Exchange"),
      s"the FIM transform must not shuffle:\n$p")
    assert(p.contains("md5_base60"),
      s"FIM coin/cuts must come from the native hash kernel:\n$p")
  }

  test("ret4 indexed: the final retrieval statically prunes the " +
      "term-bucketed postings index; results identical to prfRm3") {
    val df = Retrieval.prfRm3Indexed(spark, sf)
    val p = plan(df)
    assert("PartitionFilters: \\[tb#\\d+ IN".r.findFirstIn(p).isDefined,
      s"no static partition pruning on the postings scan:\n$p")
    // the corpus text is never tokenized on the serving path: the
    // returned plan must read parquet indices only, no documents scan
    assert(!p.contains("documents.parquet"),
      s"the serving plan still scans the corpus:\n$p")
  }

  test("pii/gopher: the per-row text battery runs in the native " +
      "kernels — no regex stacks or interpreted HOFs in the hot path") {
    val pPii = plan(TextAnalysis.piiRedact(
      Fixtures.withPii(graft.Tables.documents(spark, sf))))
    assert(pPii.contains("pii_scan"),
      s"text_pii_redact lost its native kernel:\n$pPii")
    assert(!pPii.contains("regexp_extract_all") &&
      !pPii.contains("regexp_replace"),
      s"text_pii_redact still carries regex expressions:\n$pPii")
    // (the plan TEXT prints one pii_scan per projected field; runtime
    // whole-stage codegen subexpression-eliminates the deterministic
    // call to once per row — the kernel-vs-regex timing in
    // BENCH_detail is the observable)
    assert(pPii.contains("*(1) Project"), // the codegen-stage star
      s"the pii projection fell out of codegen (CSE needs it):\n$pPii")
    val pGo = plan(TextAnalysis.gopherFilter(graft.Tables.documents(spark, sf)))
    assert(pGo.contains("gopher_scan"),
      s"filter_gopher lost its native kernel:\n$pGo")
    assert(!pGo.contains("lambdafunction"),
      s"filter_gopher still carries an interpreted HOF:\n$pGo")
  }

  test("geo3 indexed: the corpus read statically prunes cell-block " +
      "partitions; no broadcast nested loop") {
    val p = plan(Spatial.knnJoinIndexed(spark, sf))
    assert("PartitionFilters: \\[pcell#\\d+ IN".r.findFirstIn(p).isDefined,
      s"no static partition pruning on the point-index scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the indexed kNN fell back to the Q x N nested loop:\n$p")
    assert(!p.contains("customer.parquet"),
      s"the serving plan still scans the corpus table:\n$p")
  }

  test("kn indexed: doc scoring tokenizes the corpus ONCE and joins " +
      "the staged model; the bigram report never scans the corpus") {
    val score = plan(
      graft.operators.TextAnalysis.knDocScoreIndexed(spark, sf))
    val docScans = "documents\\.parquet".r.findAllIn(score).length
    assert(docScans == 1,
      s"expected exactly one documents scan, found $docScans:\n$score")
    assert(score.contains("graft_kn_model_v2"),
      s"the scoring join does not read the staged model:\n$score")
    val report = plan(
      graft.operators.TextAnalysis.knBigramsIndexed(spark, sf))
    assert(!report.contains("documents.parquet"),
      s"the staged bigram report still rescans the corpus:\n$report")
    assert(report.contains("TakeOrdered"),
      s"the top-k cut is not a TakeOrderedAndProject:\n$report")
  }
}
