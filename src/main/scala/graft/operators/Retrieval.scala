package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval — the fusion layer that turns the engine's sparse
  * (BM25, TextAnalysis.bm25) and dense (cosine ANN, Similarity) arms
  * into ONE ranked answer, the standard RAG retrieval stack: each arm
  * produces its top-k candidates independently, then a tiny fusion
  * step merges them. The `embeddings` fixture is the documents
  * corpus's dense twin (vec_id ≡ doc_id, verified 1:1 in the driver
  * fixtures), so the two arms rank the same id space.
  *
  * Scale design: fusion NEVER touches the corpus — each arm ends in a
  * TakeOrderedAndProject (or a statically-pruned index read for the
  * indexed arms), so the fuse join sees two ≤ armK row frames
  * regardless of corpus size. At 100 TB the cost profile is exactly
  * the arms' own: BM25 postings filtered to query terms, ANN reads
  * nprobe index partitions; the RRF/min-max arithmetic is O(armK).
  *
  * Determinism: arm ranks are row_number over (6dp-rounded score DESC,
  * id ASC) — the same pinned ordering each arm's own oracle uses — and
  * fused scores are integer micros, so both engines land on identical
  * longs.
  */
object Retrieval {

  /** Reciprocal-rank-fusion constant (Cormack & Clarke's k = 60 — the
    * published default that damps rank-1 dominance). */
  val RrfK = 60

  /** round(1e6 / (RrfK + rank)) as a long — the integer-micros RRF
    * contribution of one arm; null rank (id absent from that arm)
    * contributes 0 via the caller's coalesce. */
  private def rrfMicros(rank: Column): Column =
    round(lit(1e6) / (lit(RrfK) + rank.cast("double"))).cast("long")

  /** Normalize an arm frame to (doc_id, rank): row_number over the
    * arm's own pinned ordering. The single-partition window is safe BY
    * CONSTRUCTION — the input is an arm's top-armK frame (≤ 20 rows),
    * never a corpus-sized set. */
  private def ranked(arm: DataFrame, id: String, score: String,
                     rankName: String): DataFrame = {
    val w = Window.partitionBy(lit(1))
      .orderBy(col(score).desc, col("doc_id").asc)
    arm.select(col(id).as("doc_id"), col(score))
      .withColumn(rankName, row_number().over(w).cast("long"))
      .select(col("doc_id"), col(rankName))
  }

  /** RRF-fuse two ranked arms: full-outer on doc_id (an id may appear
    * in only one arm), score = Σ round(1e6/(60+rank)) over present
    * arms, re-rank, top k. */
  private def rrfFuse(sparse: DataFrame, dense: DataFrame,
                      k: Int): DataFrame = {
    val bm = ranked(sparse, "doc_id", "score", "bm25_rank")
    val dn = ranked(dense, "vec_id", "cos_sim", "dense_rank")
    bm.join(dn, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("dense_rank"),
        (coalesce(rrfMicros(col("bm25_rank")), lit(0L)) +
          coalesce(rrfMicros(col("dense_rank")), lit(0L)))
          .as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col("doc_id").asc)
      .limit(k)
  }

  /** `ret1_rrf_fusion` — reciprocal rank fusion of the in-session
    * arms: BM25 top-20 over documents text + brute-cosine top-20 over
    * the embedding twin. The exact-fusion baseline the indexed form
    * below must reproduce. */
  def rrfFusion(s: SparkSession, dir: String,
                terms: Seq[String] = Seq("spark", "query", "filter"),
                armK: Int = 20, k: Int = 10): DataFrame =
    rrfFuse(
      TextAnalysis.bm25(Tables.documents(s, dir), terms, armK),
      Similarity.annBruteForce(s, dir, armK).select("vec_id", "cos_sim"),
      k)

  /** `ret2_rrf_indexed` — the SERVING shape of [[rrfFusion]]: the
    * sparse arm reads the persisted term-bucketed BM25 index and the
    * dense arm the persisted cell-partitioned IVF index, both through
    * static partition pruning — per query, O(query terms + nprobe
    * cells) read, zero corpus scans. The dense arm is IVF (approximate
    * at nprobe=3), so the fused list is the index stack's answer, and
    * its oracle composes the arms' own mirrored SQL (bm25 + IVF probe
    * replay) — approximation replayed exactly, not fudged. */
  def rrfFusionIndexed(s: SparkSession, dir: String,
                       terms: Seq[String] = Seq("spark", "query", "filter"),
                       armK: Int = 20, k: Int = 10): DataFrame = {
    // arm constructions each run model-sized driver jobs (index stats /
    // quantizer / probe-cell collects); the two arms touch DISJOINT
    // staged directories (bm25_index vs ivf_index), so their
    // constructions overlap safely (guide §2.6) — the fused frame is
    // built from the same two arm frames either way
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fSparse = Future(TextAnalysis.bm25Indexed(s, dir, terms, armK))
    val fDense = Future(
      Similarity.annIvfIndexed(s, dir, armK).select("vec_id", "cos_sim"))
    rrfFuse(Await.result(fSparse, Duration.Inf),
      Await.result(fDense, Duration.Inf), k)
  }

  /** `ret4_prf_rm3` — RM3-style pseudo-relevance feedback, the
    * query-EXPANSION half of the retrieval stack (fusion widens the
    * arms, PRF widens the query): run the seed query, treat its top
    * fbK docs as pseudo-relevant, score every candidate term by
    * relevance weight × idf (relevance weight = Σ over feedback docs
    * of round(1e6·tf/dl) — integer micros, so the cross-doc sum is
    * partition-order-independent), take the top `expand` non-seed
    * terms and re-run BM25 with the widened query.
    *
    * Scale shape: the feedback set is fbK ids (broadcast); candidate
    * term stats are one token-keyed aggregation SEMI-JOINED to the
    * feedback docs' vocabulary before any wide work; the expansion
    * list is a ≤ `expand`-row model collect (the k-means quantizer
    * convention) re-shipped as a literal predicate into the final BM25
    * pass. The corpus token stream is scanned three times (feedback
    * BM25, the df branch, the final BM25) plus one footer-cheap count —
    * every scan is the BM25 postings shape (explode + filter, shuffles
    * bounded by matching postings), and a 100 TB serving deployment
    * replaces all three with reads of the persisted term-bucketed
    * index, exactly as bm25Indexed does. */
  def prfRm3(s: SparkSession, dir: String,
             seed: Seq[String] = Seq("spark", "query", "filter"),
             fbK: Int = 10, expand: Int = 5, k: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    val fb = TextAnalysis.bm25(docs, seed, fbK).select("doc_id")
    val tkn = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("term"))
    // everything relevance-weighted lives on the fbK feedback docs:
    // filter the token stream FIRST so doc lengths and tf counts never
    // shuffle corpus-sized frames (dl of a feedback doc computed from
    // its own filtered tokens is exactly its full length)
    val tknFb = tkn.join(broadcast(fb), "doc_id").localCheckpoint(true)
    val dlFb = tknFb.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val fw = tknFb
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .join(broadcast(dlFb), "doc_id")
      .select(col("term"),
        round(lit(1e6) * col("tf").cast("double") /
          col("dl").cast("double")).cast("long").as("c"))
      .groupBy(col("term")).agg(sum(col("c")).as("relw"))
    // candidate-term semi-join BEFORE the distinct: the (doc, term)
    // dedup shuffle only ever sees postings of the feedback docs'
    // vocabulary, not the whole corpus token stream
    val df = tkn.join(broadcast(fw.select(col("term"))), "term")
      .select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5)
          + 1.0), 6).as("idf"))
    val expTerms = fw.join(idf, "term")
      .filter(!col("term").isin(seed: _*))
      .select(col("term"),
        round(col("idf") * col("relw")).cast("long").as("wt_micros"))
      .orderBy(col("wt_micros").desc, col("term").asc)
      .limit(expand)
      .collect().map(_.getString(0)).toSeq // ≤expand-row model collect
    TextAnalysis.bm25(docs, seed ++ expTerms, k)
  }

  /** `ret4_prf_rm3_indexed` — the serving realization [[prfRm3]]'s
    * scaladoc promises: EVERY phase reads the persisted term-bucketed
    * BM25 postings index (built once per corpus fingerprint by
    * bm25Indexed); the corpus text is never tokenized. Feedback and
    * final retrievals are statically partition-pruned index reads; the
    * relevance weights come from the feedback docs' postings rows
    * (tf and dl are index columns — one columnar scan of (doc_id,
    * term, tf, dl), no text); candidate-term document frequency is a
    * count of postings rows per term (postings are distinct (doc,
    * term) pairs by construction — identical to the in-session
    * distinct). Bit-equal to [[prfRm3]], graded against the SAME
    * oracle, so hash equality is a standing proof the index serves the
    * exact RM3 answer. The sf1 soak motivated it: the in-session face
    * scales linearly but pays 3 corpus tokenizations (15.2s at sf1).
    * EVERY read here is statically pruned: the feedback retrieval and
    * final retrieval prune term buckets, the feedback-doc probe prunes
    * a doc-bucketed postings sidecar (built once per fingerprint FROM
    * the term index), and the candidate-df read prunes term buckets
    * again because the candidate list is driver-resident by then. The
    * in-between arithmetic (relevance weights × idf, top-`expand`) is
    * a model-sized driver finish quantized at the same boundaries as
    * the distributed face. Per query: O(seed terms + fbK doc buckets +
    * candidate-term buckets) partitions read, zero corpus scans. */
  def prfRm3Indexed(s: SparkSession, dir: String,
                    seed: Seq[String] = Seq("spark", "query", "filter"),
                    fbK: Int = 10, expand: Int = 5, k: Int = 10)
      : DataFrame = {
    // term buckets of the BM25 index every phase reads (the staged
    // keys name it); the doc-bucketed sidecar uses the same count
    val buckets = 64
    // The RM3 expansion MODEL (the ≤`expand` expanded terms) is a pure
    // function of (corpus, seed, fbK, expand) — staged once
    // per fingerprint (r14), so warm calls skip the whole feedback
    // probe (seed retrieval + doc-bucket read + df read + stats read,
    // four driver round-trips) and pay only the expanded retrieval,
    // which IS the query. ret4/ret8/eval9 all ride this model.
    val mBase = Staging.base("rm3_model_v1", dir,
      s"${seed.mkString("-")}_f${fbK}_e${expand}_b$buckets",
      "documents")
    Staging.buildOnce(mBase) {
    // runs the seed retrieval AND (first call per fingerprint) builds
    // the term-bucketed postings index
    val fbIds = TextAnalysis.bm25Indexed(s, dir, seed, fbK, buckets)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq // ≤fbK
    val root = TextAnalysis.bm25IndexRoot(s, dir, buckets)
    // doc-bucketed sidecar of the SAME postings rows (built once per
    // fingerprint FROM the term-bucketed index — no re-tokenization):
    // the feedback-doc probe is doc-major, so without it the probe
    // scans every term bucket
    val docBase = Staging.base("rm3_docpost_v1", dir, s"b$buckets",
      "documents")
    Staging.buildOnce(docBase) {
      TextAnalysis.bm25Postings(s, root)
        .withColumn("db", TextAnalysis.bucketOf(
          col("doc_id").cast("string"), buckets))
        .write.mode("overwrite").partitionBy("db")
        .parquet(s"$docBase/postings")
    }
    val dbs = TextAnalysis.bucketIds(fbIds.map(_.toString), buckets)
    // feedback docs' term distributions: a ≤fbK-bucket pruned read;
    // relevance weights collect to the driver (bounded by the feedback
    // docs' combined vocabulary — fbK × doc length, model-sized)
    val relw = s.read.parquet(s"$docBase/postings")
      .filter(col("db").isin(dbs: _*) && col("doc_id").isin(fbIds: _*))
      .select(col("term"),
        round(lit(1e6) * col("tf").cast("double") /
          col("dl").cast("double")).cast("long").as("c"))
      .groupBy(col("term")).agg(sum(col("c")).as("relw"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // candidate-term document frequency: a term-bucket pruned read of
    // the main index (candidate terms are known driver-side now), df =
    // postings rows per term (postings are distinct (doc, term) pairs)
    val cand = relw.keySet.toSeq.sorted
    val dfMap = TextAnalysis.indexedPostings(s, Seq(root), cand, buckets)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = TextAnalysis.bm25Stats(s, Seq(root))._1
    // model-sized driver finish, HALF_UP at the same two rounding
    // boundaries the distributed face quantizes at (6dp idf, 0dp
    // weight) — bit-equal by construction, Round10Spec pins it
    def r6(d: Double): Double = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expModel = cand.filterNot(seed.contains)
      .map { t =>
        val df = dfMap(t).toDouble
        val idf = r6(math.log((n - df + 0.5) / (df + 0.5) + 1.0))
        val wt = BigDecimal(idf * relw(t).toDouble)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (t, wt)
      }
      .sortBy { case (t, wt) => (-wt, t) }
      .take(expand).map(_._1)
    import s.implicits._
    expModel.zipWithIndex
      .toDF("term", "ord") // ord preserves the selection ranking
      .coalesce(1).write.mode("overwrite").parquet(s"$mBase/terms")
    }
    val expTerms = s.read.parquet(s"$mBase/terms")
      .orderBy(col("ord")).collect().map(_.getString(0)).toSeq
    TextAnalysis.bm25Indexed(s, dir, seed ++ expTerms, k, buckets)
  }

  /** `ret8_multi_rrf_indexed` — three-arm reciprocal-rank fusion
    * served ENTIRELY from the persisted indexes (eval8's arm family
    * composed with ret4's pruning): (1) the seed-query BM25 arm reads
    * the term-bucketed postings index, (2) the RM3-EXPANDED query arm
    * runs [[prfRm3Indexed]]'s fully-pruned PRF path at armK — fusion
    * and expansion composed, the "RM3 as one arm of a hybrid stack"
    * shape production rankers deploy, (3) the dense arm reads the
    * cell-partitioned IVF index at nprobe=3. Every read is statically
    * pruned (term buckets / doc buckets / IVF cells); per query the
    * whole fused ranking costs O(arm buckets) partitions, zero corpus
    * scans. Each arm ranks by its own pinned (score desc, id asc)
    * top-armK ordering; RRF sums round(1e6/(60+rank)) integer micros
    * over present arms (absent arm → 0), re-ranks, top-k. The oracle
    * composes the arms' own mirrored SQL — the IVF arm's approximation
    * is replayed exactly, not fudged. */
  def multiRrfIndexed(s: SparkSession, dir: String,
                      terms: Seq[String] = Seq("spark", "query", "filter"),
                      armK: Int = 20, k: Int = 10): DataFrame = {
    // the seed arm constructs FIRST and alone: it ensures the shared
    // postings index exists, so the PRF arm (which reads the same
    // postings inside prfRm3Indexed) can never race its build
    // directory; the PRF and dense constructions — each a chain of
    // model-sized collects over disjoint staged dirs — then overlap
    // (guide §2.6). Arm frames and the fused result are unchanged.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val seed = ranked(TextAnalysis.bm25Indexed(s, dir, terms, armK),
      "doc_id", "score", "seed_rank")
    val fPrf = Future(ranked(prfRm3Indexed(s, dir, terms, k = armK),
      "doc_id", "score", "prf_rank"))
    val fDense = Future(ranked(Similarity.annIvfIndexed(s, dir, armK)
      .select(col("vec_id"), col("cos_sim")),
      "vec_id", "cos_sim", "dense_rank"))
    val prf = Await.result(fPrf, Duration.Inf)
    val dense = Await.result(fDense, Duration.Inf)
    seed.join(prf, Seq("doc_id"), "full_outer")
      .join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("seed_rank"), col("prf_rank"),
        col("dense_rank"),
        (coalesce(rrfMicros(col("seed_rank")), lit(0L)) +
          coalesce(rrfMicros(col("prf_rank")), lit(0L)) +
          coalesce(rrfMicros(col("dense_rank")), lit(0L)))
          .as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col("doc_id").asc)
      .limit(k)
  }

  /** `eval9_prf_shift` — the PRF ablation readout (eval8's twin for
    * the expansion half): how far does RM3 move the top-10? One row:
    * docs shared by the seed-only and expanded lists, docs only the
    * expansion surfaced, Jaccard of the two lists, and the Spearman
    * footrule (Σ |rank delta| over shared docs) — zero footrule and
    * ten common docs means the expansion changed nothing; a large
    * footrule with few new docs means it mostly reshuffled. The union
    * size comes straight from the full-outer row count. */
  def prfShift(s: SparkSession, dir: String): DataFrame = {
    val both = col("rs").isNotNull && col("re").isNotNull
    // both arms read the persisted postings index: the seed arm is a
    // term-bucket pruned bm25Indexed, the expanded arm the fully
    // pruned prfRm3Indexed — each bit-equal to its in-session twin
    // (FunctionsSpec/Round10Spec pins), so the ablation readout is
    // unchanged and the eval face stops paying two corpus
    // tokenizations per run
    ranked(TextAnalysis.bm25Indexed(s, dir,
        Seq("spark", "query", "filter"), 10), "doc_id", "score", "rs")
      .join(ranked(prfRm3Indexed(s, dir), "doc_id", "score", "re"),
        Seq("doc_id"), "full_outer")
      .agg(
        sum(when(both, 1L).otherwise(0L)).as("n_common"),
        sum(when(col("rs").isNull && col("re").isNotNull, 1L)
          .otherwise(0L)).as("n_new_docs"),
        sum(when(both, abs(col("rs") - col("re"))).otherwise(0L))
          .as("footrule"),
        count(lit(1)).as("n_union"))
      .select(col("n_common"), col("n_new_docs"),
        round(lit(1e6) * col("n_common").cast("double") /
          col("n_union").cast("double")).cast("long")
          .as("jaccard_micros"),
        col("footrule"))
  }

  /** Dirichlet-smoothing pseudo-count for [[qlDirichlet]] (Zhai &
    * Lafferty's μ = 2000 — the published default for short queries). */
  val DirichletMu = 2000.0

  /** `ret5_ql_dirichlet` — query-likelihood retrieval with Dirichlet
    * smoothing, the language-modeling alternative to BM25 (Zhai &
    * Lafferty 2001): score(d) = Σ_t ln((tf(t,d) + μ·P(t|C)) /
    * (dl_d + μ)) over the query terms, P(t|C) the collection unigram
    * model. A term ABSENT from the doc still contributes its smoothed
    * mass ln(μ·P(t|C)/(dl+μ)) — that is the whole point of smoothing —
    * so candidates carry all |q| terms via a left join against the
    * broadcast query-term stats, tf coalesced to 0. Candidate set is
    * the standard practical one: docs containing ≥1 query term (a doc
    * with zero matches ranks below every candidate by construction —
    * its score is the all-smoothed floor minus nothing — so the
    * restriction never changes the top-k for k ≤ candidates).
    * Query terms absent from the corpus (cf = 0) drop from the scoring
    * bag — ln 0 is not a score; the standard OOV-term convention.
    *
    * Scale shape: identical family to [[TextAnalysis.bm25]] — postings
    * filtered to query terms before any shuffle, collection stats a
    * |q|-row broadcast, per-term contributions 6dp-quantized and
    * integer-summed (partition-order-independent), top-k as
    * TakeOrderedAndProject. */
  def qlDirichlet(s: SparkSession, dir: String,
                  terms: Seq[String] = Seq("spark", "query", "filter"),
                  k: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tk = docs.select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("tk"))
    val dl = tk.select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val posts = tk.select(col("doc_id"), explode(col("tk")).as("term"))
      .filter(col("term").isin(terms: _*))
    val stats = posts.groupBy(col("term")).agg(count(lit(1)).as("cf"))
      .crossJoin(broadcast(dl.agg(sum(col("dl")).as("c_total"))))
      .filter(col("cf") > 0)
    val tf = posts.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cand = tf.select(col("doc_id")).distinct()
    cand.crossJoin(broadcast(stats))
      .join(tf, Seq("doc_id", "term"), "left")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("term"), col("tf"),
        round(log((coalesce(col("tf"), lit(0L)).cast("double") +
            lit(DirichletMu) * col("cf").cast("double") /
              col("c_total").cast("double")) /
          (col("dl").cast("double") + lit(DirichletMu))), 6).as("c"))
      .groupBy(col("doc_id"))
      .agg((sum(round(col("c") * 1e6, 0).cast("long")).cast("double") / 1e6)
          .as("score"),
        sum(when(col("tf").isNotNull, 1L).otherwise(0L)).as("n_match"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Min-max normalize an arm's scores to [0, 1e6] integer micros
    * within its top-armK frame (the convex-combination fusion's
    * comparable scale; a constant-score arm normalizes to 1e6 — every
    * member equally best). */
  private def minMaxMicros(arm: DataFrame, id: String, score: String,
                           normName: String): DataFrame = {
    val w = Window.partitionBy(lit(1))
    arm.select(col(id).as("doc_id"), col(score))
      .withColumn("mn", min(col(score)).over(w))
      .withColumn("mx", max(col(score)).over(w))
      .select(col("doc_id"),
        when(col("mx") > col("mn"),
          round(lit(1e6) * (col(score) - col("mn")) /
            (col("mx") - col("mn"))).cast("long"))
          .otherwise(lit(1000000L)).as(normName))
  }

  /** `ret3_hybrid_minmax` — weighted score fusion, RRF's main
    * alternative: each arm's top-20 scores min-max-normalize to
    * integer micros, missing-arm ids contribute 0, and the hybrid
    * score is the equal-weight sum (monotone-equivalent to the 0.5/0.5
    * convex combination, kept integral so both engines agree bit-for-
    * bit). Rank fusion (ret1) ignores score GAPS; score fusion keeps
    * them — a doc barely inside one arm's top-20 scores near 0 here
    * but 1/(60+20) there. Shipping both is the standard ablation. */
  def hybridMinMax(s: SparkSession, dir: String,
                   terms: Seq[String] = Seq("spark", "query", "filter"),
                   armK: Int = 20, k: Int = 10): DataFrame =
    minMaxFuse(
      TextAnalysis.bm25(Tables.documents(s, dir), terms, armK),
      Similarity.annBruteForce(s, dir, armK).select("vec_id", "cos_sim"),
      k)

  private def minMaxFuse(sparse: DataFrame, dense: DataFrame,
                         k: Int): DataFrame = {
    val bm = minMaxMicros(sparse, "doc_id", "score", "bm25_norm")
    val dn = minMaxMicros(dense, "vec_id", "cos_sim", "dense_norm")
    bm.join(dn, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_norm"), col("dense_norm"),
        (coalesce(col("bm25_norm"), lit(0L)) +
          coalesce(col("dense_norm"), lit(0L))).as("hyb_micros"))
      .orderBy(col("hyb_micros").desc, col("doc_id").asc)
      .limit(k)
  }

  /** `eval8_fusion_overlap` — the fusion ablation readout: top-10
    * set overlap (count + Jaccard micros) of the RRF fusion against
    * each arm alone and against its indexed / score-fusion variants.
    * Reads: how much each arm shapes the fused list, and how far the
    * served (indexed, IVF-approximate) stack drifts from the exact
    * one. Jaccard denominators count each list (|A∪B| = |A| + |B| −
    * |A∩B|) — a short list (a sparse IVF cell, a tiny corpus) yields
    * the true Jaccard, not a silently-deflated one; the overlap joins
    * are ≤10×10 broadcasts. */
  def fusionOverlap(s: SparkSession, dir: String): DataFrame = {
    // each arm is scanned ONCE: the @10 lists and both fusion variants
    // all derive from the same cached top-20 frames (top-10 of the
    // pinned @20 ordering ≡ the @10 query, so results are bit-identical
    // to running each method standalone — the shared-kernel convention).
    // The sparse arm reads the persisted postings index (bit-equal to
    // the in-session bm25, FunctionsSpec's shared-kernel guarantee) and
    // the exact dense top-20 stages once per embeddings fingerprint
    // (the eval2 truth convention) — the eval face stops re-running a
    // corpus tokenization and a brute-force scan per invocation
    // Job overlap (r16, guide §2.6): this face is a chain of ≤10-row
    // jobs — two arm materializations, the fused list, four arm
    // collects — that ran strictly sequentially, so its wall time was
    // the SUM of eight tiny jobs' latencies on an otherwise idle
    // scheduler. Staged builds (the postings index via bm25Indexed,
    // the brute-force top-20) stay sequential BEFORE the parallel
    // section so no two threads can race one build directory; the
    // pure-compute pieces then overlap. Each arm's rows are unchanged
    // — only the submission order is concurrent, and the output rows
    // are assembled in the fixed arm order.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val bm20df = TextAnalysis.bm25Indexed(s, dir,
      Seq("spark", "query", "filter"), 20) // builds postings if missing
    val dnBase = Staging.base("ann_brute_v1", dir, "k20", "embeddings")
    Staging.buildOnce(dnBase) {
      Similarity.annBruteForce(s, dir, 20).select("vec_id", "cos_sim")
        .coalesce(1).write.mode("overwrite").parquet(s"$dnBase/top")
    }
    val fBm = Future(bm20df.localCheckpoint(true))
    val fDn = Future(s.read.parquet(s"$dnBase/top").localCheckpoint(true))
    // arm 3 is an independent served stack (its own staged artifacts
    // were built by its first construction in this JVM or a prior run;
    // its postings dir is the one bm25Indexed just ensured above)
    val fArm3 = Future(rrfFusionIndexed(s, dir).select("doc_id")
      .collect().map(_.getLong(0)))
    val bm20 = Await.result(fBm, Duration.Inf)
    val dn20 = Await.result(fDn, Duration.Inf)
    val fR1 = Future(rrfFuse(bm20, dn20, 10).select("doc_id")
      .collect().map(_.getLong(0)).toSet)
    val fArm1 = Future(
      bm20.orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id").collect().map(_.getLong(0)))
    val fArm2 = Future(
      dn20.orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id").as("doc_id")).collect().map(_.getLong(0)))
    val fArm4 = Future(minMaxFuse(bm20, dn20, 10).select("doc_id")
      .collect().map(_.getLong(0)))
    val arms: Seq[(String, Array[Long])] = Seq(
      ("1_rrf_vs_bm25", Await.result(fArm1, Duration.Inf)),
      ("2_rrf_vs_dense", Await.result(fArm2, Duration.Inf)),
      ("3_rrf_vs_indexed", Await.result(fArm3, Duration.Inf)),
      ("4_rrf_vs_minmax", Await.result(fArm4, Duration.Inf)))
    // model-sized driver finish (r14): every list is ≤10 ids, so the
    // overlap/Jaccard readout is pure arithmetic on collected K-row
    // models — the prfRm3Indexed collect discipline. The distributed
    // work (the four retrievals above) is unchanged; the pre-r14
    // per-arm join+crossJoin chain spent ~10 tiny jobs computing
    // set intersections of 10-row lists. Same HALF_UP rounding as the
    // retired round() column. denom == 0 (both arms empty) emits NULL
    // because that is what the DuckDB oracle's
    // round(1e6·0/0)::BIGINT yields (verified: DuckDB NaN casts to
    // NULL) — NOT what the retired Spark plan did (non-ANSI
    // round(NaN).cast(long) was 0L), so the driver-side finish is the
    // side that agrees with the oracle on an empty union.
    val aIds = Await.result(fR1, Duration.Inf)
    val rows = arms.map { case (name, bIds) =>
      val common = bIds.count(aIds.contains).toLong
      val denom = aIds.size.toLong + bIds.length - common
      val jac: java.lang.Long =
        if (denom == 0L) null
        else Long.box(BigDecimal(1e6 * common.toDouble / denom.toDouble)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      org.apache.spark.sql.Row(name, common, jac)
    }
    s.createDataFrame(
      s.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pair",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_common",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("jaccard_micros",
          org.apache.spark.sql.types.LongType, nullable = true))))
      .orderBy(col("pair").asc)
  }

  /** The fixed two-term query set for [[mrr]] — literal in both
    * engines. Two-term queries keep the metric non-degenerate: a
    * single-term BM25 ranking trivially puts a relevant (term-bearing)
    * doc at rank 1, while here relevance demands BOTH terms and the
    * ranking may prefer a one-term-heavy doc. */
  val MrrQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "query"),
    2L -> Seq("query", "filter"),
    3L -> Seq("spark", "filter"))

  /** `ret7_mrr` — Mean Reciprocal Rank of the BM25 ranking over the
    * fixed query battery: per query, the rank of the FIRST document
    * containing every query term (the strict-coverage relevance
    * signal ndcgBm25 grades gradually), rr = 1/rank in exact integer
    * micros (1e6 DIV rank), and MRR = the integer mean across
    * queries — the metric retrieval dashboards quote beside NDCG.
    * Queries with no covered doc in the top-k contribute rr = 0 (the
    * standard convention).
    *
    * Scale shape: per query one BM25 TakeOrdered shortlist (≤ k rows)
    * joined to the coverage frame (one filtered explode + distinct,
    * the postings shape); the battery unions q·k rows. */
  def mrr(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    val nq = MrrQueries.size.toLong
    // ONE corpus scan for the whole battery: every query's BM25 arm
    // and coverage frame derive from a shared bm25Base over the UNION
    // of the battery's terms (bm25From re-filters per query, so
    // tf/df/idf are bit-identical to the per-query scan it replaces —
    // the before shape paid 2 corpus tokenizations per query, 6 total)
    val unionTerms = MrrQueries.flatMap(_._2).distinct
    val base = TextAnalysis.bm25Base(docs, unionTerms)
    val perQ = MrrQueries.map { case (qid, qts) =>
      val rel = base
        .select(col("doc_id"), explode(col("mt")).as("term"))
        .filter(col("term").isin(qts: _*))
        .select(col("doc_id"), col("term")).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("cov"))
        .filter(col("cov") === qts.size.toLong)
        .select(col("doc_id"), lit(1L).as("relevant"))
      TextAnalysis.bm25From(base, qts, k)
        .withColumn("rank", row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .join(rel, Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_ranked"),
          coalesce(min(when(col("relevant") === 1L, col("rank"))),
            lit(0L)).as("first_rel_rank"))
        .select(lit(qid).as("query_id"), col("n_ranked"),
          col("first_rel_rank"),
          when(col("first_rel_rank") > 0L,
            expr("1000000 DIV first_rel_rank")).otherwise(lit(0L))
            .as("rr_micros"))
    }.reduce(_ unionAll _)
    val all = Window.partitionBy(lit(1))
    perQ.select(col("query_id"), col("n_ranked"),
      col("first_rel_rank"), col("rr_micros"),
      (sum(col("rr_micros")).over(all) / nq).cast("long")
        .as("mrr_micros"))
  }
}
