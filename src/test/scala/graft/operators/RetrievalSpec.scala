package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame

/** Hybrid retrieval fusion: each fused list is re-derived in plain
  * driver Scala from the arms' own collected outputs — an independent
  * restatement of the RRF / min-max arithmetic, so a fusion bug can't
  * hide behind the operator's own expressions (the md5_60 replay
  * convention, applied to ranking math).
  */
class RetrievalSpec extends SparkSpec {

  private def rankOf(rows: Array[(Long, Double)]): Map[Long, Long] =
    rows.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap

  private def arms(): (Map[Long, Long], Map[Long, Long]) = {
    val bm = TextAnalysis.bm25(Tables.documents(spark, sf),
      Seq("spark", "query", "filter"), 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val dn = Similarity.annBruteForce(spark, sf, 20).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    (rankOf(bm), rankOf(dn))
  }

  test("ret1: RRF fusion equals the driver-side fold over the arms' " +
      "own top-20 lists") {
    val (bm, dn) = arms()
    def rrf(r: Option[Long]): Long =
      r.map(x => math.round(1e6 / (Retrieval.RrfK + x))).getOrElse(0L)
    val want = (bm.keySet ++ dn.keySet).toSeq
      .map(id => (id, bm.get(id), dn.get(id),
        rrf(bm.get(id)) + rrf(dn.get(id))))
      .sortBy { case (id, _, _, s) => (-s, id) }.take(10)
    val got = Retrieval.rrfFusion(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[java.lang.Long]("bm25_rank")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("dense_rank")).map(_.longValue),
        r.getAs[Long]("rrf_micros"))).toSeq
    assert(got === want)
    // k=60 damping: even a rank-1-single-arm doc cannot beat a doc
    // that is merely mid-list in BOTH arms' top-20 (1/61 < 2/80)
    assert(math.round(1e6 / 61.0) <
      2 * math.round(1e6 / (Retrieval.RrfK + 20.0)))
  }

  test("ret2: indexed fusion reproduces fusion over the indexed arms " +
      "(bm25 index is exact, dense arm is the IVF answer)") {
    val bmIdx = TextAnalysis.bm25Indexed(spark, sf,
      Seq("spark", "query", "filter"), 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val ivf = Similarity.annIvfIndexed(spark, sf, 20).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    val (bm, dn) = (rankOf(bmIdx), rankOf(ivf))
    def rrf(r: Option[Long]): Long =
      r.map(x => math.round(1e6 / (Retrieval.RrfK + x))).getOrElse(0L)
    val want = (bm.keySet ++ dn.keySet).toSeq
      .map(id => (id, rrf(bm.get(id)) + rrf(dn.get(id))))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Retrieval.rrfFusionIndexed(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rrf_micros")))
      .toSeq
    assert(got === want)
  }

  test("ret3: min-max hybrid equals the driver-side normalize-and-sum, " +
      "norms live in [0, 1e6] and each arm's leader normalizes to 1e6") {
    val bm = TextAnalysis.bm25(Tables.documents(spark, sf),
      Seq("spark", "query", "filter"), 20).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val dn = Similarity.annBruteForce(spark, sf, 20).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim")))
    def norm(rows: Array[(Long, Double)]): Map[Long, Long] = {
      val (mn, mx) = (rows.map(_._2).min, rows.map(_._2).max)
      rows.map { case (id, s) =>
        id -> (if (mx > mn) math.round(1e6 * (s - mn) / (mx - mn))
               else 1000000L)
      }.toMap
    }
    val (nb, nd) = (norm(bm), norm(dn))
    assert((nb.values ++ nd.values).forall(v => v >= 0L && v <= 1000000L))
    assert(nb.values.max === 1000000L && nd.values.max === 1000000L)
    val want = (nb.keySet ++ nd.keySet).toSeq
      .map(id => (id, nb.getOrElse(id, 0L) + nd.getOrElse(id, 0L)))
      .sortBy { case (id, s) => (-s, id) }.take(10)
    val got = Retrieval.hybridMinMax(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hyb_micros")))
      .toSeq
    assert(got === want)
  }

  test("ret4: RM3 expansion terms re-derive from collected tokens and " +
      "the widened query equals bm25 over seed ∪ expansion") {
    val seed = Seq("spark", "query", "filter")
    val docs = Tables.documents(spark, sf)
    val toks = docs.selectExpr("doc_id",
      "filter(split(text, '\\\\s+'), x -> length(x) > 0) AS tk")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getSeq[String](1)))
    val fb = TextAnalysis.bm25(docs, seed, 10).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val dl = toks.map { case (id, tk) => id -> tk.length }.toMap
    val relw = toks.filter(t => fb(t._1))
      .flatMap { case (id, tk) =>
        tk.groupBy(identity).map { case (t, xs) =>
          (t, math.round(1e6 * xs.length.toDouble / dl(id))) }
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val dfc = toks.flatMap { case (_, tk) => tk.distinct }
      .groupBy(identity).view.mapValues(_.length).toMap
    val n = toks.length
    val exp = relw.keys.filterNot(seed.contains).toSeq
      .map { t =>
        val idf = BigDecimal(math.log((n - dfc(t) + 0.5) /
          (dfc(t) + 0.5) + 1.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, math.round(idf * relw(t)))
      }
      .sortBy { case (t, w) => (-w, t) }.take(5).map(_._1)
    val want = TextAnalysis.bm25(docs, seed ++ exp, 10).collect()
      .map(_.toSeq).toSeq
    val got = Retrieval.prfRm3(spark, sf).collect().map(_.toSeq).toSeq
    assert(got === want)
    assert(exp.nonEmpty, "feedback docs must yield expansion terms")
  }

  test("eval8: overlap rows re-derive from the methods' own lists") {
    val r1 = Retrieval.rrfFusion(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val lists = Seq(
      "1_rrf_vs_bm25" -> TextAnalysis.bm25(Tables.documents(spark, sf),
        Seq("spark", "query", "filter"), 10).collect()
        .map(_.getAs[Long]("doc_id")).toSet,
      "2_rrf_vs_dense" -> Similarity.annBruteForce(spark, sf, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet,
      "3_rrf_vs_indexed" -> Retrieval.rrfFusionIndexed(spark, sf)
        .collect().map(_.getAs[Long]("doc_id")).toSet,
      "4_rrf_vs_minmax" -> Retrieval.hybridMinMax(spark, sf)
        .collect().map(_.getAs[Long]("doc_id")).toSet)
    val want = lists.map { case (name, other) =>
      val c = (r1 & other).size.toLong
      (name, c, math.round(1e6 * c.toDouble / (r1.size + other.size - c)))
    }
    val got = Retrieval.fusionOverlap(spark, sf).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("n_common"),
        r.getAs[Long]("jaccard_micros"))).toSeq
    assert(got === want)
  }

  test("eval9: PRF shift report equals the driver-side rank diff of " +
      "the seed-only and expanded lists") {
    def rankList(rows: Array[(Long, Double)]): Map[Long, Long] =
      rows.sortBy { case (id, s) => (-s, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val sd = rankList(TextAnalysis.bm25(Tables.documents(spark, sf),
      Seq("spark", "query", "filter"), 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))))
    val ex = rankList(Retrieval.prfRm3(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))))
    val common = sd.keySet & ex.keySet
    val union = (sd.keySet ++ ex.keySet).size
    val r = Retrieval.prfShift(spark, sf).collect().head
    assert(r.getAs[Long]("n_common") === common.size)
    assert(r.getAs[Long]("n_new_docs") === (ex.keySet -- sd.keySet).size)
    assert(r.getAs[Long]("jaccard_micros") ===
      math.round(1e6 * common.size.toDouble / union))
    assert(r.getAs[Long]("footrule") ===
      common.toSeq.map(id => math.abs(sd(id) - ex(id))).sum)
  }

  test("fusion plans never touch the corpus: both ret1 arms end in a " +
      "top-k before the fuse join sees them") {
    val df: DataFrame = Retrieval.rrfFusion(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // each arm contributes a TakeOrderedAndProject; the fusion's own
    // final top-10 may plan as a third — at least the two arm heaps
    // must be present (corpus-sized sort would plan as Sort + Exchange
    // rangepartitioning instead)
    val heaps = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(heaps >= 2, s"expected both arm top-k heaps in plan:\n$p")
    assert(!"Exchange rangepartitioning".r.findFirstIn(p).isDefined,
      s"corpus-sized global sort leaked into the fusion plan:\n$p")
  }

  test("an arm that fails cancels its sibling: the fused call returns " +
      "only after every arm stopped, and rethrows the arm's own error") {
    // only the embeddings table: the sparse arm fails at once (no
    // documents to index) while the dense arm is building its IVF
    // index over the embeddings
    val dir = graft.SparkSpec.tempDir("graft-overlap-fail")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(s"$sf/embeddings.parquet"),
      java.nio.file.Path.of(s"$dir/embeddings.parquet"))
    val ivf = Staging.base("ivf_index_v1", dir, "", "embeddings")
    Staging.reapOnExit(ivf)
    val sc = spark.sparkContext
    val lastJobStart = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        lastJobStart.accumulateAndGet(e.time, math.max)
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[Exception] {
        Retrieval.rrfFusionIndexed(spark, dir)
      }
      val returned = System.currentTimeMillis()
      assert(e.getMessage.contains("documents.parquet"),
        s"expected the sparse arm's own failure, got: $e")
      // a detached sibling would go on submitting its build jobs and
      // commit its index after the call returned
      Thread.sleep(3000)
      assert(lastJobStart.get() < returned,
        "a sibling arm kept submitting jobs after the fused call returned")
      assert(!Staging.marker(ivf).exists(),
        "the cancelled dense arm committed its index build")
    } finally sc.removeSparkListener(listener)
    // the pooled threads that ran the cancelled group's arms carry no
    // job group into later overlapped calls
    assert(Retrieval.rrfFusionIndexed(spark, sf).count() > 0)
  }
}
