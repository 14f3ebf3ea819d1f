package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Text-analysis operators for a training-data pipeline: language ID,
  * quality scoring, token counting, document fingerprinting. All pure
  * native expressions over the `documents` table — each is a narrow
  * per-row map (no shuffle) until the final optional aggregate, so the
  * stage parallelizes linearly with input splits at 100 TB.
  */
object TextAnalysis {

  private[operators] def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** Marker-word occurrence count: how many times ` w ` appears.
    * split-based (size(split)-1) — identical arithmetic on any engine,
    * no regex-dialect drift. */
  private def occ(c: Column, w: String): Column =
    (size(split(c, s" $w ")) - 1).cast("long")

  /** Language ID via n-gram/marker heuristic: score each candidate
    * language by marker-token hits, argmax with a pinned preference
    * order on ties. (The synthetic corpus is English word-salad; the
    * operator's *shape* — k scoring passes fused into one projection,
    * then a deterministic argmax — is what carries to a real corpus.)
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val scoreEn = occ(col("text"), "the") + occ(col("text"), "a")
    val scoreQl = occ(col("text"), "query") + occ(col("text"), "table") +
      occ(col("text"), "join")
    val scoreSt = occ(col("text"), "stream") + occ(col("text"), "batch") +
      occ(col("text"), "window")
    d.select(col("doc_id"), scoreEn.as("score_en"), scoreQl.as("score_ql"),
        scoreSt.as("score_st"))
      .withColumn("predicted",
        when(col("score_en") >= col("score_ql") &&
             col("score_en") >= col("score_st"), "en")
          .when(col("score_ql") >= col("score_st"), "ql")
          .otherwise("st"))
  }

  /** Quality scoring: length, token count, mean token length, stopword
    * ratio, digit ratio — combined into a single bounded score. All
    * ratios are int/int divisions rounded at the output boundary.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks  = tokens(col("text"))
    val nTok  = size(toks).cast("long")
    val nChar = length(col("text")).cast("long")
    val stop  = occ(col("text"), "the") + occ(col("text"), "a")
    d.select(col("doc_id"), nChar.as("n_chars_m"), nTok.as("n_tokens"),
        stop.as("n_stop"))
      .select(
        col("doc_id"), col("n_chars_m"), col("n_tokens"),
        round(col("n_chars_m").cast("double") / col("n_tokens"), 4)
          .as("mean_tok_len"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4)
          .as("stop_ratio"),
        round(least(lit(1.0), col("n_tokens").cast("double") / 100), 4)
          .as("len_score"))
  }

  /** Adaptive per-source quality filtering: instead of one global
    * threshold (wrong when sources differ systematically — a forum
    * dump and an encyclopedia dump have different length profiles),
    * each source keeps its top (1 - dropPct/100) of documents by token
    * count. The cutoff is an exact order statistic, computed with pure
    * integer arithmetic: rank docs within source (ties pinned by
    * doc_id), drop ranks ≤ n_src·dropPct/100 under integer division —
    * no float percentile, so every engine agrees bit-for-bit. One
    * shuffle on `source` (the window), then a narrow filter; at 100 TB
    * the per-source partitions are what AQE/salting already handle for
    * any other groupBy. */
  def qualityAdaptive(s: SparkSession, dir: String,
                      dropPct: Int = 20): DataFrame = {
    val d = Tables.documents(s, dir)
    val base = d.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val byQ = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").asc, col("doc_id").asc)
    val bySrc = Window.partitionBy(col("source"))
    base
      .select(col("doc_id"), col("source"), col("n_tokens"),
        row_number().over(byQ).cast("long").as("q_rank"),
        count(lit(1)).over(bySrc).as("n_src"))
      .filter(col("q_rank") > expr(s"n_src * $dropPct DIV 100"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("q_rank"))
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex tokenizer
    * (letter runs / digit runs / single non-space symbols) — the two
    * counts disagree exactly where subword splitting would kick in.
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_m"))
  }

  /** Document fingerprinting: order-sensitive rolling polynomial hash
    * over token lengths (base 31, modulus 1e15 to stay inside exact
    * 64-bit — ANSI-mode safe, no overflow). Same-token-sequence ⇒ same
    * fingerprint; any reorder changes it. Pure fold via the higher-order
    * `aggregate` — runs inside codegen, no UDF.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = tokens(lower(col("text")))
    val fp = aggregate(toks, lit(7L),
      (acc, t) => pmod(acc * 31L + length(t) * 17L + ascii(t), lit(1000000000000000L)))
    d.select(col("doc_id"), fp.as("fingerprint"))
  }

  // PII patterns shared by the counter and the redactor. Plain ASCII
  // regex that means the same thing to Java's engine and RE2 (DuckDB) —
  // no lookaround, no unicode classes.
  val UrlRe   = raw"https?://[^\s]+"
  val EmailRe = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
  val Ipv4Re  = raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
  val PhoneRe = raw"\b\d{3}-\d{4}\b"

  /** Occurrence count of one PII pattern in `t`. */
  def piiCount(t: Column, re: String): Column =
    size(regexp_extract_all(t, lit(re), lit(0))).cast("long")

  /** The precedence-ordered scrub (URL → email → IP → phone, so a URL's
    * digits can't be half-eaten by the narrower patterns) as a plain
    * column expression — reusable inside fused pipelines. */
  def redact(t: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      UrlRe, "<URL>"), EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** PII redaction: count and scrub URLs, emails, IPv4s and phone
    * numbers; counts are taken on the original text. A pure narrow
    * projection — one fused native `pii_scan` pass
    * ([[graft.functions.PiiImpl.scan]]) inside
    * whole-stage codegen, no shuffle, linear scale-out. The redacted
    * text is emitted as an md5 digest so the full transform is
    * hash-checkable without shipping the body. */
  def piiRedact(docs: DataFrame): DataFrame = {
    val p = piiScan(col("text"))
    docs.select(col("doc_id"),
      p.getField("n_urls").as("n_urls"),
      p.getField("n_emails").as("n_emails"),
      p.getField("n_ips").as("n_ips"),
      p.getField("n_phones").as("n_phones"),
      md5(p.getField("redacted").cast("binary")).as("redacted_hash"))
  }

  /** The fused Gopher keep decision as one column expression (same
    * rounded comparisons as [[gopherFilter]]'s flags) — for pipelines
    * that gate on quality without materializing the per-rule report. */
  def gopherKeep(t: Column): Column = {
    val g = gopherScan(t)
    val nWords = g.getField("n_words")
    val meanLen = round(g.getField("sum_len")
      .cast("double") / nWords, 4)
    val alphaFrac = round(g.getField("n_alpha")
      .cast("double") / nWords, 4)
    val nStop = g.getField("n_stop")
    (nWords >= 50 && nWords <= 100000 && meanLen >= 3 && meanLen <= 10 &&
      alphaFrac >= 0.8 && nStop >= 2).cast("long")
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021, §A1.1): word
    * count bounds, mean-word-length bounds, alphabetic-word fraction,
    * stopword presence — each emitted as its own flag plus the combined
    * keep decision, so downstream can both filter and report per-rule
    * rejection rates. One narrow projection; the integer stats come
    * from one native `gopher_scan` pass
    * ([[graft.functions.GopherImpl.scan]]) and the
    * ratio/rounding arithmetic runs in codegen. */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val g = gopherScan(col("text"))
    val nWords = g.getField("n_words")
    val meanLen = g.getField("sum_len").cast("double") / nWords
    val alphaFrac = g.getField("n_alpha").cast("double") / nWords
    val nStop = g.getField("n_stop")
    docs.select(col("doc_id"), nWords.as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round(alphaFrac, 4).as("alpha_frac"), nStop.as("n_stop"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("n_stop"),
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("long")
          .as("pass_len"),
        (col("mean_word_len") >= 3 && col("mean_word_len") <= 10).cast("long")
          .as("pass_mean_len"),
        (col("alpha_frac") >= 0.8).cast("long").as("pass_alpha"),
        (col("n_stop") >= 2).cast("long").as("pass_stop"))
      .withColumn("keep",
        (col("pass_len") === 1 && col("pass_mean_len") === 1 &&
          col("pass_alpha") === 1 && col("pass_stop") === 1).cast("long"))
  }

  /** Gopher's repetition signals — the family of rules gopherFilter
    * does not cover: repeated-token fraction, most-frequent-2-gram mass,
    * and duplicated-2-gram mass per document.
    *
    * Scale shape: the per-document gram frequencies come from
    * explode → two-level aggregation keyed on (doc_id, gram) — each
    * document's grams land in the same partitions WITHOUT the document
    * text traveling (only grams cross the wire, with map-side partial
    * counts), and no per-row quadratic HOF scan. This is the same shape
    * Spark gives word-count, which is exactly what the signal is. */
  def repetition(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val uni = tk.select(col("doc_id"),
      size(col("tk")).cast("long").as("n_tokens"),
      size(array_distinct(col("tk"))).cast("long").as("n_distinct"))
    val g2 = tk
      .select(col("doc_id"), explode(grams(col("tk"), 2, distinct = false)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).as("n_2grams"),
        max(col("c")).as("top_2gram_n"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_2gram_n"))
    uni.join(g2, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_tokens"), 4).as("dup_token_frac"),
        round(col("top_2gram_n").cast("double") / col("n_2grams"), 4)
          .as("top_2gram_frac"),
        round(col("dup_2gram_n").cast("double") / col("n_2grams"), 4)
          .as("dup_2gram_frac"))
      .withColumn("keep",
        (col("dup_token_frac") <= 0.3 && col("top_2gram_frac") <= 0.2 &&
          col("dup_2gram_frac") <= 0.4).cast("long"))
  }

  /** n-gram strings via the native token_ngrams expression (one
    * O(tokens) pass, whole-short fallback gram). The HOF form it
    * replaced (`transform(sequence…, i -> concat_ws(slice…))`) stayed
    * linear only while `tk` remained a materialized attribute — the
    * `size(grams) > 0` filter InferFiltersFromGenerate pushes below
    * every explode inlines the tokenizer back into the lambda, where
    * each element re-runs split+filter over the raw text (O(tokens²);
    * measured 11.6s → 1.5s at sf0.1). A native expression evaluates
    * its child exactly once wherever Catalyst moves it. */
  private[operators] def grams(tk: Column, n: Int, distinct: Boolean): Column = {
    val g = tokenNgrams(tk, n)
    if (distinct) array_distinct(g) else g
  }

  /** The exploded (w1, w2) bigram stream of a token column, via the
    * native one-pass [[grams]] kernel: 2-grams space-join to exactly
    * "w1 w2" (tokens are whitespace-free — split on \s+ — so the gram
    * has exactly one space) and the two substring_index calls are a
    * bijection back to the pair. The zip_with-over-shifted-slices form
    * this replaces referenced its token-array child ~5 times per
    * occurrence, and the expression occurs ~3× once
    * InferFiltersFromGenerate copies it into the pre-explode size
    * filter — harmless on a materialized attribute, but wherever
    * Catalyst INLINES the tokenizer (the fused knDocPairs projection,
    * alias substitution under predicate pushdown) every one of those
    * ~15 references re-ran split+filter over the raw text. token_ngrams
    * evaluates its child exactly once wherever the plan moves it, so
    * the scan stage pays 2 tokenizer passes (filter + project), not 15
    * — the [[grams]] precedent applied to the bigram faces.
    * Empty/short docs: n=2, wholeShort=false emits [] for <2 tokens,
    * exactly the retired `when(size<2).otherwise([])` branch. */
  private def bigramExplode(df: DataFrame, toks: Column,
                            carry: Column*): DataFrame =
    df.select(carry :+ explode(grams(toks, 2, distinct = false)).as("g"): _*)
      .select(carry :+ substring_index(col("g"), " ", 1).as("w1")
        :+ substring_index(col("g"), " ", -1).as("w2"): _*)

  /** BM25 retrieval scoring: rank documents against a bag of query
    * terms (k1=1.2, b=0.75 — the classic constants, kept as literals so
    * the DuckDB oracle replays the identical float expression).
    *
    * Scale shape: postings are exploded tokens FILTERED TO THE QUERY
    * TERMS before any aggregation — the per-(doc, term) tf count only
    * ever sees matching postings, so corpus size drives the scan but
    * not the shuffle. Per-term idf is a tiny broadcast frame; corpus
    * stats (N, avgdl) are a 1-row broadcast. Per-term contributions are
    * 6dp-quantized and summed as integer micros, so the final score is
    * independent of partition summation order (the float-sum lesson
    * from k-means); top-k plans as TakeOrderedAndProject. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame =
    bm25From(bm25Base(docs, terms), terms, k)

  /** One-corpus-scan base for the in-session BM25 family: per document
    * its exact token length and its query-term postings. Every BM25
    * statistic (dl, corpus stats, per-(doc, term) tf, df) derives from
    * this narrow (doc_id, dl, matched-tokens) frame, eagerly
    * checkpointed. The retired shape referenced the tokenizing subtree
    * once per statistic AND once per join consumer, which Catalyst
    * expands into INDEPENDENT scans — ret6_maxscore's physical plan
    * read documents.parquet 40 times, re-running split+filter over the
    * full text each time (plans/r15/ret6_maxscore_before.txt). One
    * scan computes everything; downstream frames are postings-sized.
    * At 100 TB the staged bm25Indexed path replaces even that single
    * scan — this is the in-session twin's minimal-pass form, the
    * guide-§8 "decide on small rows" split. */
  private[operators] def bm25Base(docs: DataFrame,
                                  terms: Seq[String]): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
        filter(col("tk"), t => t.isin(terms: _*)).as("mt"))
      .localCheckpoint(true)

  /** The BM25 scoring kernel over a [[bm25Base]] frame. `terms` may be
    * a SUBSET of the base's terms (the mrr battery shares one base
    * across its queries): the explode re-filters, so tf/df/idf are
    * bit-identical to a per-query base. */
  private[operators] def bm25From(base: DataFrame, terms: Seq[String],
                                  k: Int): DataFrame = {
    val dl = base.select(col("doc_id"), col("dl"))
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
    val tf = base.select(col("doc_id"), explode(col("mt")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6)
          .as("idf"))
    val avgdl = col("total").cast("double") / col("n").cast("double")
    val contrib = tf.join(broadcast(idf), "term")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(col("idf") * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / avgdl))), 6)
          .as("c"))
    contrib.groupBy(col("doc_id"))
      .agg((sum(round(col("c") * 1e6, 0).cast("long")).cast("double") / 1e6)
          .as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** MaxScore-pruned BM25 top-k (Turtle & Flood 1995, restated for a
    * shuffle engine) — bit-identical to [[bm25]] by construction, and
    * graded against the SAME oracle, so hash equality is a standing
    * proof that the pruning is lossless. The pruning rule:
    *
    *   1. per-term upper bound UB(t) = max posting contribution of t
    *      (|q| rows, broadcast);
    *   2. θ = max over terms of the k-th largest single contribution
    *      within that term's postings — at least k docs have full
    *      score ≥ θ (a full score dominates any one of its positive
    *      contributions), so θ lower-bounds the k-th best score;
    *   3. a doc whose Σ UB(matched terms) < θ has full score < θ
    *      (contributions are positive and each ≤ its term's UB) and
    *      can never reach the top k, even on ties — the final order
    *      is (score DESC, doc_id ASC) and pruned scores are STRICTLY
    *      below the k-th.
    *
    * Scale shape: the postings frame is computed once and reused by
    * both phases (same tf/idf kernel as [[bm25]]); UB and θ are
    * broadcast 1-to-|q|-row frames; the survivor filter is a bucketed
    * doc-keyed aggregation; the final top-k is TakeOrderedAndProject.
    * On a persisted impact-ordered index, step 1 comes from index
    * metadata and step 3 skips whole postings partitions — this face
    * proves the algebra that makes that skip safe. All comparisons run
    * in the micro-integer contribution space, so pruning soundness is
    * exact, never an FP-rounding gamble. */
  def bm25MaxScore(docs: DataFrame, terms: Seq[String], k: Int = 10)
      : DataFrame = {
    // one corpus scan (the bm25Base discipline): contrib is referenced
    // by the UB, θ, survivor and final-score branches — each expansion
    // used to re-read and re-tokenize the corpus (40 scans in the
    // before plan); now each re-derives from the checkpointed base's
    // postings-sized frames
    val base = bm25Base(docs, terms)
    val dl = base.select(col("doc_id"), col("dl"))
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
    val tf = base.select(col("doc_id"), explode(col("mt")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6)
          .as("idf"))
    val avgdl = col("total").cast("double") / col("n").cast("double")
    val contrib = tf.join(broadcast(idf), "term")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        round(round(col("idf") * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / avgdl))), 6) * 1e6, 0)
          .cast("long").as("cm"))
    val ub = contrib.groupBy(col("term")).agg(max(col("cm")).as("ub"))
    val byTerm = Window.partitionBy(col("term"))
      .orderBy(col("cm").desc, col("doc_id").asc)
    // θ empty (every term has < k postings) ⇒ nothing is pruned
    val theta = contrib
      .withColumn("rn", row_number().over(byTerm))
      .filter(col("rn") === k)
      .agg(coalesce(max(col("cm")), lit(Long.MinValue)).as("theta"))
    val survivors = contrib.join(broadcast(ub), "term")
      .groupBy(col("doc_id")).agg(sum(col("ub")).as("ub_sum"))
      .crossJoin(broadcast(theta))
      .filter(col("ub_sum") >= col("theta"))
      .select(col("doc_id"))
    contrib.join(survivors, "doc_id")
      .groupBy(col("doc_id"))
      .agg((sum(col("cm")).cast("double") / 1e6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Heaps'-law vocabulary growth — distinct vocabulary size at ten
    * corpus-prefix checkpoints plus the fitted log-log slope (the
    * Heaps exponent β ≈ how fast new types keep arriving; the
    * companion to [[zipfFit]]'s frequency law, and the number that
    * sizes a tokenizer vocab for a corpus 100× larger). The growth
    * curve computes from ONE aggregation: each token's FIRST document
    * (min doc_id), then each checkpoint counts tokens first seen
    * before it — never ten prefix re-scans.
    *
    * Scale shape: one (token → min doc) aggregation (map-side
    * combined, vocab-sized result); the checkpoint counts and OLS fit
    * fold over vocab-sized and 10-row frames. Determinism: the zipf
    * convention — micro-nat quantization per point, exact integer
    * normal equations, one IEEE divide for the slope. */
  def heapsGrowth(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val firstSeen = d
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val bounds = d.agg(count(lit(1)).as("n"))
      .select(explode(sequence(lit(1L), lit(10L))).as("decile"), col("n"))
      .select(col("decile"), expr("(decile * n) DIV 10").as("n_docs"))
    val curve = firstSeen
      .join(broadcast(bounds), col("first_doc") < col("n_docs"))
      .groupBy(col("decile"), col("n_docs"))
      .agg(count(lit(1)).as("vocab_size"))
    val all = Window.partitionBy(lit(1))
    curve
      .withColumn("x", round(lit(1e6) *
        log(col("n_docs").cast("double"))).cast("long"))
      .withColumn("y", round(lit(1e6) *
        log(col("vocab_size").cast("double"))).cast("long"))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("sx", sum(col("x")).over(all))
      .withColumn("sy", sum(col("y")).over(all))
      .withColumn("sxy", sum(col("x") * col("y")).over(all))
      .withColumn("sxx", sum(col("x") * col("x")).over(all))
      .select(col("decile"), col("n_docs"), col("vocab_size"),
        round(lit(1e6) *
          (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .cast("long").as("heaps_beta_micros"))
  }

  /** Per-source lexical diversity — type-token ratio and hapax share,
    * the two quick lexical-health numbers beside [[keyness]]'s
    * signature view (a template-farm source shows low TTR and few
    * hapax; scraped natural prose shows the opposite): per source,
    * token count, type count, TTR = types/tokens and the share of
    * types occurring once.
    *
    * Scale shape: one (source, token) aggregation, then a source-keyed
    * rollup of the vocab-sized frame. Exact integer counts, two IEEE
    * divides per source row, micro-rounded. */
  def lexicalDiversity(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        round(lit(1e6) * col("n_types").cast("double") /
          col("n_tokens").cast("double")).cast("long").as("ttr_micros"),
        round(lit(1e6) * col("n_hapax").cast("double") /
          col("n_types").cast("double")).cast("long")
          .as("hapax_micros"))
  }

  /** Chao1 species-richness estimate of the vocabulary — "how many
    * distinct tokens exist beyond this sample": V̂ = V + f₁²/(2f₂)
    * from the singleton/doubleton counts (the ecology estimator corpus
    * linguists borrowed; the honest answer to "is the vocab saturated"
    * that raw distinct-counts can't give). The bias-corrected
    * f₁(f₁−1)/2 form applies when no doubletons exist.
    *
    * Scale shape: one token-count aggregation, then a 3-number fold
    * over the vocab-sized frame. Exact integers into one final IEEE
    * divide, micro-rounded. */
  def chao1(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("v_obs"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("v_obs"), col("f1"), col("f2"),
        when(col("f2") > 0L,
          round(lit(1e6) * (col("v_obs").cast("double") +
            (col("f1") * col("f1")).cast("double") /
            (lit(2L) * col("f2")).cast("double"))))
          .otherwise(
            round(lit(1e6) * (col("v_obs").cast("double") +
              (col("f1") * (col("f1") - 1L)).cast("double") / 2.0)))
          .cast("long").as("chao1_micros"))
  }

  /** PMI-ranked bigram collocations — the phrase-mining step that
    * finds multiword units ("new york", "machine learning") worth
    * atomizing before tokenizer training: PMI = ln(p₁₂/(p₁·p₂)) =
    * ln(c₁₂·N² / (B·c₁·c₂)) over the corpus bigram/unigram models,
    * min-count filtered (rare pairs have inflated PMI — the classic
    * artifact) and top-k by score.
    *
    * Scale shape: one bigram aggregation + one unigram aggregation
    * (both map-side combined, the kn_bigrams shape); scoring joins the
    * bigram model against the BROADCAST unigram model twice; the top-k
    * is a TakeOrdered over the model frame. Determinism: exact integer
    * counts into one fixed IEEE ln, micro-rounded before the fully
    * tie-broken rank. */
  def collocations(s: SparkSession, dir: String, minCount: Int = 5,
                   k: Int = 20): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toksCol = tokens(lower(col("text")))
    // bigrams aggregate ONCE to the (w1, w2, c12) model and B derives
    // as sum(c12) over that model — never a checkpoint of the
    // corpus-sized exploded bigram stream (the largest frame in the
    // job; pinning it in executor memory is the round-1 bench
    // artifact the minhash staging comment documents)
    val bigAll = bigramExplode(docs, toksCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint(true) // vocab²-bounded model, feeds filter + B
    val uni = docs.select(explode(toksCol).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds both unigram joins AND the N total
    val big = bigAll.filter(col("c12") >= minCount)
    big
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))),
        Seq("w2"))
      .crossJoin(broadcast(uni.agg(sum(col("c")).as("n"))))
      .crossJoin(broadcast(bigAll.agg(sum(col("c12")).as("b"))))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        // per-factor double casts BEFORE the products: the integer
        // products would overflow long once N reaches billions of
        // tokens; the double sequence is identical in both engines
        round(lit(1e6) * log(
          (col("c12").cast("double") * col("n").cast("double") *
            col("n").cast("double")) /
          (col("b").cast("double") * col("c1").cast("double") *
            col("c2").cast("double"))))
          .cast("long").as("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Dunning log-likelihood (G²) keyness — each source's signature
    * vocabulary vs the rest of the corpus, the corpus-linguistics
    * standard for domain fingerprinting (what IS this source about,
    * statistically): per (source, token) the 2-cell G² =
    * 2·(a·ln(a/E_a) + b·ln(b/E_b)) with expectations from the margins,
    * top-k per source. Zero cells contribute 0 (the x·ln x → 0 limit).
    *
    * Scale shape: one (source, token) aggregation; token totals are a
    * BROADCAST vocab-sized frame; the per-source rank filter plans
    * through the TopKPerKey heap exec (≤ k survivors per source cross
    * the final shuffle, no global sort). Determinism: all counts
    * exact longs; each G² term micro-rounds from one fixed IEEE
    * expression; ranks fully tie-broken. */
  def keyness(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("a"))
      .localCheckpoint(true) // feeds token totals, source totals, scorer
    val tokTot = cells.groupBy(col("tok")).agg(sum(col("a")).as("ct"))
    val srcTot = cells.groupBy(col("source")).agg(sum(col("a")).as("ns"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("g2_micros").desc, col("tok").asc)
    val aD = col("a").cast("double")
    val bD = col("b").cast("double")
    // cast-first products (see collocations): long ns·ct overflows at
    // corpus scale; the double sequence replays identically
    val ea = col("ns").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val eb = (col("n") - col("ns")).cast("double") *
      col("ct").cast("double") / col("n").cast("double")
    cells
      .join(broadcast(tokTot), Seq("tok"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(srcTot.agg(sum(col("ns")).as("n"))))
      .withColumn("b", col("ct") - col("a"))
      .withColumn("g2_micros",
        round(lit(2e6) * (aD * log(aD / ea) +
          when(col("b") > 0L, bD * log(bD / eb)).otherwise(lit(0.0))))
          .cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("source"), col("rn").cast("long").as("rank"), col("tok"),
        col("a").as("n_in_source"), col("b").as("n_elsewhere"),
        col("g2_micros"))
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the corpus-similarity matrix a mixture designer
    * reads before weighting sources (two sources with near-zero JSD
    * are redundant; a high-JSD outlier is either valuable diversity or
    * contamination). The SCALE-PATH twin of [[jsDivergence]] (mix3,
    * lang-keyed): mix3 materializes one row per (pair, token-in-
    * either-side) so zero-probability sides appear explicitly — exact
    * but O(pairs·vocab) rows; here tokens absent from the other
    * source contribute exactly (p/2)·ln 2, so the whole complement
    * folds into ONE closed-form term from exact integer count
    * remainders and the scorer only ever joins the token INTERSECTION
    * (the naive-Bayes absent-term trick). Same metric, the join never
    * grows past observed co-occurrences.
    *
    * Scale shape: one (source, token) aggregation, then a
    * token-keyed equi-join between source slices of the same
    * checkpointed frame (postings shape, never cartesian); the pair
    * grid completes via a ≤|sources|² broadcast cross. Determinism:
    * per-token terms micro-round before the pair sum; the complement
    * term is one fixed IEEE expression on exact long remainders. */
  def jsdSources(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds totals and both join sides
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val inter = counts
      .select(col("source").as("src_a"), col("tok"), col("c").as("ca"))
      .join(counts.select(col("source").as("src_b"), col("tok"),
        col("c").as("cb")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
    val p = col("ca").cast("double") / col("na").cast("double")
    val q = col("cb").cast("double") / col("nb").cast("double")
    val pairInter = inter
      .select(col("src_a"), col("src_b"), col("ca"), col("cb"),
        round(lit(1e6) * (p / 2 * log(lit(2.0) * p / (p + q)) +
          q / 2 * log(lit(2.0) * q / (p + q)))).cast("long")
          .as("term_micronats"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_tokens"),
        sum(col("ca")).as("inter_ca"), sum(col("cb")).as("inter_cb"),
        sum(col("term_micronats")).as("inter_micronats"))
    // complete pair grid: a no-overlap pair still has JSD = ln 2
    broadcast(totals.select(col("source").as("src_a"), col("n").as("na")))
      .crossJoin(broadcast(totals.select(col("source").as("src_b"),
        col("n").as("nb"))))
      .filter(col("src_a") < col("src_b"))
      .join(pairInter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("shared_tokens"), lit(0L)).as("shared_tokens"),
        (coalesce(col("inter_micronats"), lit(0L)) +
          round(lit(1e6) * lit(math.log(2.0) / 2.0) *
            ((col("na") - coalesce(col("inter_ca"), lit(0L))).cast("double")
              / col("na").cast("double") +
             (col("nb") - coalesce(col("inter_cb"), lit(0L))).cast("double")
              / col("nb").cast("double"))).cast("long"))
          .as("jsd_micronats"))
  }

  /** 1e6-scaled NDCG rank discounts, round(1e6 / log₂(i+1)) for ranks
    * 1..10 — BUILD-TIME literals interpolated into both engines (the
    * BenfordMicros convention), so no runtime log parity question
    * exists. */
  private def ndcgDiscMicro(i: Int): Long =
    math.round(1e6 / (math.log(i + 1.0) / math.log(2.0)))

  val NdcgDiscMicros: IndexedSeq[Long] = (1 to 10).map(ndcgDiscMicro)

  /** NDCG@10 of the BM25 ranking against a graded term-coverage
    * relevance oracle (rel = distinct query terms present, capped 3) —
    * the retrieval-quality eval that closes the BM25 loop the way
    * eval2 closes ANN: the score says documents rank high, this says
    * the ranking agrees with an independent relevance signal. Gains
    * are the standard 2^rel − 1 ∈ {0,1,3,7}; discounts come from the
    * integer literal table, so DCG and IDCG are exact integer sums
    * and the single NDCG divide runs on exact longs.
    *
    * Scale shape: relevance is one filtered explode + distinct (the
    * BM25 postings shape); both rank windows operate on ≤ k rows
    * (BM25's TakeOrdered shortlist, and the ideal ranking drawn from
    * the ≤ #relevant-docs frame). */
  def ndcgBm25(s: SparkSession, dir: String,
               terms: Seq[String] = Seq("spark", "query", "filter"),
               k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    // same tokenization as bm25 (exact-case tokens); the relevance
    // frame and the BM25 ranking share ONE corpus scan via bm25Base
    // (the explode of matched tokens ≡ the retired corpus explode
    // filtered to `terms`)
    val base = bm25Base(docs, terms)
    val rel = base.select(col("doc_id"), explode(col("mt")).as("t"))
      .select(col("doc_id"), col("t")).distinct()
      .groupBy(col("doc_id"))
      .agg(least(count(lit(1)), lit(3L)).as("rel"))
    val gainOf = (r: Column) => element_at(
      array(lit(0L), lit(1L), lit(3L), lit(7L)), (r + 1).cast("int"))
    // discounts derive from k, not from the fixed 10-entry constant:
    // a k > 10 call must extend the table, not null out ranks 11..k
    // (NdcgDiscMicros stays as the k=10 literal face the oracle embeds)
    val discMicros = (1 to k).map(ndcgDiscMicro)
    val discOf = (i: Column) => element_at(
      array(discMicros.map(lit): _*), i.cast("int"))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("score").desc, col("doc_id").asc)
    val wIdeal = Window.partitionBy(lit(1))
      .orderBy(col("rel").desc, col("doc_id").asc)
    val all = Window.partitionBy(lit(1))
    val ideal = rel
      .withColumn("irank", row_number().over(wIdeal).cast("long"))
      .filter(col("irank") <= k)
      .agg(sum(gainOf(col("rel")) * discOf(col("irank")))
        .as("idcg_micros"))
    bm25From(base, terms, k)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .join(rel, Seq("doc_id"), "left")
      .select(col("rank"), col("doc_id"),
        coalesce(col("rel"), lit(0L)).as("rel"))
      .withColumn("gain", gainOf(col("rel")))
      .withColumn("disc_micros", discOf(col("rank")))
      .withColumn("dcg_micros", sum(col("gain") * col("disc_micros")).over(all))
      .crossJoin(broadcast(ideal))
      .select(col("rank"), col("doc_id"), col("rel"), col("gain"),
        col("disc_micros"), col("dcg_micros"), col("idcg_micros"),
        round(lit(1e6) * col("dcg_micros").cast("double") /
          col("idcg_micros").cast("double")).cast("long")
          .as("ndcg_micros"))
  }

  /** BM25 over a PERSISTED, term-bucketed postings index — the text
    * twin of `Similarity.annIvfIndexed`'s "index once, query many"
    * path. The index stages (a) postings (term, doc_id, tf, dl —
    * denormalized with the doc length, as search indexes do) PARTITIONED
    * by `tb = md5_60(term) mod buckets`, and (b) a one-row corpus-stats
    * model. A query hashes its terms driver-side (the same Md5Base
    * kernel the expression uses), so the postings read carries a STATIC
    * IN-filter on the partition column — only the query terms' bucket
    * directories are touched. At 100 TB that turns per-query cost from
    * a full corpus scan+explode into an O(matched buckets) read.
    * Scores are bit-identical to [[bm25]] (integer tf/df/dl, one shared
    * formula, micro-quantized sum), so both share one oracle.
    *
    * The one-generation case of the BM25 index kernel: [[bm25BuildGen]]
    * over the whole corpus ([[bm25IndexRoot]]), queried by
    * [[bm25QueryGens]] over that one root — the pair
    * [[bm25Incremental]] runs over base and delta generations. */
  def bm25Indexed(s: SparkSession, dir: String, terms: Seq[String],
                  k: Int = 10, buckets: Int = 64): DataFrame =
    bm25QueryGens(s, Seq(bm25IndexRoot(s, dir, buckets)), terms, k, buckets)

  /** Root of the staged full-corpus BM25 index — one generation over
    * every document, built once per corpus fingerprint. The root is
    * opaque to callers: [[bm25Postings]], [[indexedPostings]] and
    * [[bm25Stats]] read it. */
  private[operators] def bm25IndexRoot(s: SparkSession, dir: String,
                                       buckets: Int): String = {
    // the bucket count is part of the cache key: an index partitioned
    // mod B is only valid for queries hashing mod the same B
    val base = Staging.base("bm25_index_v1", dir, s"b$buckets", "documents")
    Staging.buildOnce(base) {
      bm25BuildGen(Tables.documents(s, dir), base, buckets)
    }
    base
  }

  /** The bucket of a string key, mod `buckets` — the index-build
    * expression; [[bucketIds]] is its driver-side twin. */
  private[operators] def bucketOf(key: Column, buckets: Int): Column =
    pmod(md5Base60(key), lit(buckets.toLong))

  /** Bucket ids of driver-side keys via the SAME Md5Base kernel
    * [[bucketOf]] runs, so a read of a bucket-partitioned table plans a
    * static partition filter. */
  private[operators] def bucketIds(keys: Seq[String],
                                   buckets: Int): Seq[Long] =
    keys.map(t => math.floorMod(graft.functions.Md5Base.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)),
      buckets.toLong)).distinct

  /** Every (doc_id, term, tf, dl) postings row of an index root. */
  private[operators] def bm25Postings(s: SparkSession,
                                      root: String): DataFrame =
    s.read.parquet(s"$root/postings")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))

  /** Merged corpus stats (N, Σdl) of generation roots: the per-generation
    * one-row models sum exactly. */
  private[operators] def bm25Stats(s: SparkSession,
                                   roots: Seq[String]): (Long, Long) = {
    val statRows = roots.map(g => s.read.parquet(s"$g/stats").collect().head)
    (statRows.map(_.getAs[Long]("n")).sum,
      statRows.map(_.getAs[Long]("total")).sum)
  }

  /** Statically-pruned postings read over one or more index
    * GENERATIONS, unioned (doc sets are disjoint by construction). */
  private[operators] def indexedPostings(s: SparkSession, gens: Seq[String],
                                         terms: Seq[String], buckets: Int)
  : DataFrame = {
    val tbs = bucketIds(terms, buckets)
    gens.map { g =>
      s.read.parquet(s"$g/postings")
        .filter(col("tb").isin(tbs: _*))
        .filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    }.reduce(_ unionByName _)
  }

  /** The ONE BM25 scoring kernel over (doc_id, term, tf, dl) postings
    * plus collected corpus stats — shared by [[bm25Indexed]] and
    * [[bm25Incremental]] so every indexed face scores bit-identically
    * to [[bm25]] (same integer tf/df/dl, same formula, same
    * micro-quantized sum). */
  private def bm25ScoreFromPostings(tf: DataFrame, n: Long, total: Long,
                                    k: Int): DataFrame = {
    val idf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("term"),
        round(log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6)
          .as("idf"))
    val avgdl = lit(total).cast("double") / lit(n).cast("double")
    tf.join(broadcast(idf), "term")
      .select(col("doc_id"),
        round(col("idf") * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / avgdl))), 6)
          .as("c"))
      .groupBy(col("doc_id"))
      .agg((sum(round(col("c") * 1e6, 0).cast("long")).cast("double") / 1e6)
          .as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** INCREMENTAL maintenance of the BM25 index — the text twin of
    * `Similarity.annIvfIndexedIncremental`: the base postings are
    * built once over the base corpus slice (doc_id ≤ max/2), and a
    * new document batch lands as its OWN term-bucketed postings
    * generation (overwrite-mode — crash-idempotent, base files never
    * touched). The subtlety BM25 adds over IVF: corpus stats (N,
    * Σdl) and df are APPEND-VARIANT — a new batch changes every
    * score. So each generation stages its own one-row stats model and
    * the query SUMS them (exact integer merge), while df aggregates
    * over the unioned generation postings; nothing is stale, and the
    * result is bit-identical to [[bm25]] over the full corpus — the
    * shared oracle proves the merge loses nothing. At 100 TB: per
    * batch, one postings write of the DELTA only; per query, an
    * O(matched buckets × generations) read. */
  def bm25Incremental(s: SparkSession, dir: String, terms: Seq[String],
                      k: Int = 10, buckets: Int = 64): DataFrame =
    bm25IncrQuery(s, dir, terms, k, buckets,
      base => Seq(base, s"$base/delta"))

  /** COMPACTION of the incremental BM25 index — the text face of
    * `Similarity.annIvfCompacted`: postings generations rewrite once
    * into a single term-bucketed generation, and the per-generation
    * one-row stats models merge by exact integer sum into one stats
    * file — so the compacted generation is indistinguishable from an
    * index built over the full corpus in one shot, and the query's
    * pruned read collapses from a union to one scan. Same shared
    * oracle as [[bm25]] (the merge is provably lossless: tf rows are
    * a set union, N and Σdl are associative sums). */
  def bm25Compacted(s: SparkSession, dir: String, terms: Seq[String],
                    k: Int = 10, buckets: Int = 64): DataFrame =
    bm25IncrQuery(s, dir, terms, k, buckets, { base =>
      Staging.buildOnce(s"$base/compact") {
        Seq(base, s"$base/delta")
          .map(g => s.read.parquet(s"$g/postings")
            .select(col("doc_id"), col("term"), col("tf"), col("dl"),
              col("tb")))
          .reduce(_ unionByName _)
          .write.mode("overwrite").partitionBy("tb")
          .parquet(s"$base/compact/postings")
        import s.implicits._
        Seq(bm25Stats(s, Seq(base, s"$base/delta"))).toDF("n", "total")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$base/compact/stats")
      }
      Seq(s"$base/compact")
    })

  /** Shared staging + query kernel of the incremental-BM25 faces —
    * `gens` picks the generation roots whose postings union and whose
    * one-row stats models sum (exact integer merge). */
  private def bm25IncrQuery(s: SparkSession, dir: String,
                            terms: Seq[String], k: Int, buckets: Int,
                            gens: String => Seq[String]): DataFrame = {
    val d = Tables.documents(s, dir)
    val splitAt = d.agg(max(col("doc_id"))).head().getLong(0) / 2
    val base = Staging.base("bm25_incr_v1", dir, s"b${buckets}s$splitAt",
      "documents")
    Staging.buildOnce(base) {
      bm25BuildGen(d.filter(col("doc_id") <= splitAt), base, buckets)
    }
    Staging.buildOnce(s"$base/delta") {
      bm25BuildGen(d.filter(col("doc_id") > splitAt), s"$base/delta",
        buckets)
    }
    bm25QueryGens(s, gens(base), terms, k, buckets)
  }

  /** One postings GENERATION of the incremental BM25 index: the
    * term-bucketed (doc_id, term, tf, dl) table plus the one-row
    * (n, Σdl) stats model. Shared by the batch incremental faces and
    * the streaming ingestion face (streaming.EventStreams
    * .bm25IngestStream), so a streamed generation is bit-identical to
    * a batch-built one over the same rows. */
  private[graft] def bm25BuildGen(docs: DataFrame, path: String,
                                  buckets: Int): Unit = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    val dl = tk.select(col("doc_id"),
      size(col("tk")).cast("long").as("dl"))
    tk.select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .join(dl, "doc_id")
      .withColumn("tb", bucketOf(col("term"), buckets))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings")
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Query over any set of generation roots: per-generation one-row
    * stats models merge by exact integer sum, postings union under the
    * static term-bucket pruning, the shared scoring kernel ranks. */
  private[graft] def bm25QueryGens(s: SparkSession, roots: Seq[String],
                                   terms: Seq[String], k: Int,
                                   buckets: Int): DataFrame = {
    val (n, total) = bm25Stats(s, roots)
    bm25ScoreFromPostings(
      indexedPostings(s, roots, terms, buckets), n, total, k)
  }

  /** Unigram language-model scoring — the perplexity-proxy quality
    * filter (the CCNet/KenLM idea with the simplest possible LM): train
    * corpus unigram frequencies, score each document by its mean token
    * log-probability, flag the rare-token-heavy tail.
    *
    * Scale shape: the model IS a DataFrame (token → freq), joined back
    * to the exploded corpus with an explicit broadcast — vocabulary is
    * sublinear in corpus size, so the model side broadcasts while the
    * corpus side stays a scan; the only wide shuffle is the final
    * per-document re-aggregation of narrow (doc_id, micro-nat) rows.
    * The corpus token total comes from a narrow scan-agg
    * (sum of per-row token counts — identical to counting the exploded
    * rows, without the explode), and both broadcasts are independent
    * top-level builds: nesting the total inside the model broadcast
    * (the round-3 shape) made every execution run
    * explode→agg→collect→re-broadcast twice, serially, which under
    * host contention was this query's 60s bench tail.
    * Log-probs are quantized to integer micro-nats BEFORE summation, so
    * the mean is independent of partitioning and engine fold order
    * (same trick as the k-means means). */
  def unigramLogProb(s: SparkSession, dir: String,
                     lowQualityNats: Double = -3.5): DataFrame = {
    val d = Tables.documents(s, dir)
    val toksOf = d.select(col("doc_id"), explode(tokens(lower(col("text"))))
      .as("tok"))
    val model = toksOf.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val nTotal = d.select(sum(size(tokens(lower(col("text")))).cast("long"))
      .as("n_total"))
    toksOf.join(broadcast(model), "tok")
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"),
        round(log(col("freq").cast("double") / col("n_total")) * 1e6, 0)
          .cast("long").as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lp_micro")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("mean_logprob"))
      .withColumn("low_quality",
        (col("mean_logprob") < lowQualityNats).cast("long"))
  }

  /** Data-selection importance weights (the DSIR idea — Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling" — reduced to unigram features): score every corpus
    * document by the log-ratio of its likelihood under a TARGET-domain
    * unigram LM vs the corpus-wide LM. Positive mean log-ratio ⇒ the
    * doc looks more like the target domain than the corpus average ⇒
    * keep for domain-focused training. Both LMs are add-one smoothed
    * over the corpus vocabulary, so the ratio is defined for every
    * token.
    *
    * Scale shape: ONE model join — the corpus-frequency and
    * target-frequency tables are fused into a single vocab-sized DF
    * (left join target onto corpus vocab, coalesce 0) broadcast to the
    * exploded-corpus probe; the three scalars (corpus tokens, target
    * tokens, vocab size) ride along as independent broadcast
    * crossJoins, never nested inside another broadcast build. Per-token
    * log-ratios are quantized to integer micro-nats before the per-doc
    * sum (fold-order independence, same as [[unigramLogProb]]).
    */
  def dsirWeights(s: SparkSession, dir: String,
                  targetLang: String = "de"): DataFrame = {
    val d = Tables.documents(s, dir)
    val toksOf = d.select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("tok"))
    val model = toksOf.groupBy(col("tok"))
      .agg(count(lit(1)).as("fc"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ft"))
    val nTokensOf = size(tokens(lower(col("text")))).cast("long")
    val nc = d.select(sum(nTokensOf).as("nc"))
    val nt = d.filter(col("lang") === targetLang)
      .select(coalesce(sum(nTokensOf), lit(0L)).as("nt"))
    val v = model.select(count(lit(1)).as("v"))
    toksOf.join(broadcast(model), "tok")
      .crossJoin(broadcast(nc)).crossJoin(broadcast(nt)).crossJoin(broadcast(v))
      .select(col("doc_id"),
        round((log((col("ft") + 1).cast("double") / (col("nt") + col("v"))) -
               log((col("fc") + 1).cast("double") / (col("nc") + col("v"))))
          * 1e6, 0).cast("long").as("lr_micro"))
      .groupBy(col("doc_id"))
      // total stays in exact integer micro-nats: a 6dp-rounded mean sits
      // on a half-up boundary for some docs (hit at sf0.1) and engines
      // disagree there; the integer total is bit-exact everywhere and
      // keep ≡ (mean > 0) ≡ (total > 0).
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr_micro")).as("lr_total_micro"))
      .withColumn("keep", (col("lr_total_micro") > 0L).cast("long"))
  }

  /** Corpus heavy hitters through the native Misra-Gries sketch
    * aggregate ([[graft.functions.MisraGriesAgg]], registered as
    * `mg_topk`): constant-memory per-task counters, associative
    * partial-sketch merges — the frequency plan that never shuffles
    * the key space. The capacity (30) sits BELOW the corpus vocabulary
    * (31+), so the sketch genuinely evicts and the guarantee — every
    * token with true frequency above n/(capacity+1) survives with
    * estimate error ≤ n/(capacity+1) — is exercised, not vacuous.
    *
    * Estimates are merge-order dependent, so the oracle-stable output
    * is the exactly-computed heavy-hitter set with the two guaranteed
    * flags (found / bound_ok), mirroring the stat2 HLL discipline. */
  def heavyHitters(s: SparkSession, dir: String,
                   capacity: Int = 30): DataFrame = {
    val d = Tables.documents(s, dir)
    val toks = d.select(explode(tokens(lower(col("text")))).as("tok"))
    val sketch = toks.agg(mgTopk(col("tok"), capacity).as("sk"))
    val nTotal = d.select(sum(size(tokens(lower(col("text")))).cast("long"))
      .as("n"))
    val bound = col("n").cast("double") / (capacity + 1)
    val est = element_at(col("sk"), col("tok"))
    toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(nTotal))
      .filter(col("freq") > bound)
      .crossJoin(broadcast(sketch))
      .select(col("tok"), col("freq"), col("n"),
        est.isNotNull.cast("long").as("found"),
        (est.isNotNull && est <= col("freq") &&
          (col("freq") - est).cast("double") <= bound)
          .cast("long").as("bound_ok"))
  }

  /** Benchmark-contamination check — the decontamination step of a
    * training-data pipeline: the fraction of each corpus document's
    * distinct n-grams that appear in the evaluation set's n-gram set
    * (here the eval set is the first `evalMaxId` documents, standing in
    * for a benchmark suite).
    *
    * Scale shape: the eval n-gram set is a MODEL-sized artifact — for a
    * real benchmark suite, thousands-to-millions of n-grams, NOT corpus
    * sized — so by default it is built once, collected, and shipped as a
    * literal array (the same broadcast-the-model pattern as the k-means
    * quantizer), making the corpus check a ZERO-SHUFFLE narrow map:
    * tokenize → shingle → hash-set intersect per row, all in one
    * projection. No explode, no join, no exchange of corpus data.
    *
    * That literal degenerates if someone points `evalMaxId` at a
    * corpus-sized slice, so the collect is CAPPED at cutoff+1 rows (one
    * action both sizes the set and, when small, supplies the model);
    * past `maxLiteralNgrams` the operator switches to the explode +
    * broadcast-hash-join fallback — still no corpus shuffle of text
    * (only (doc_id, gram) pairs to a map-side-combined re-agg), and the
    * driver never holds more than cutoff+1 eval rows. Both paths are
    * row-identical (spec-asserted). */
  def contamination(s: SparkSession, dir: String, n: Int = 3,
                    evalMaxId: Long = 10,
                    maxLiteralNgrams: Int = 100000): DataFrame = {
    val d = Tables.documents(s, dir)
    val evalDf = d.filter(col("doc_id") < evalMaxId)
      .select(tokens(lower(col("text"))).as("tk"))
      .select(explode(grams(col("tk"), n, distinct = true)).as("g"))
      .distinct()
    val corpus = d.filter(col("doc_id") >= evalMaxId)
      .select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"), grams(col("tk"), n, distinct = true).as("g"))
    // ONE action decides the branch and (when small) supplies the model:
    // collect at most cutoff+1 rows — bounded driver memory, and no
    // separate count() job re-running the eval tokenize/shingle subtree
    val sample = evalDf.limit(maxLiteralNgrams + 1).collect()
      .map(_.getString(0))
    println(s"[contamination] eval n-gram set: " +
      (if (sample.length <= maxLiteralNgrams) s"${sample.length} distinct"
       else s">$maxLiteralNgrams distinct") +
      s" (literal-array cutoff $maxLiteralNgrams)")
    val counted =
      if (sample.length <= maxLiteralNgrams) {
        val evalLit = array(sample.sorted.toIndexedSeq.map(lit): _*)
        corpus.select(col("doc_id"),
          size(col("g")).cast("long").as("n_ngrams"),
          size(array_intersect(col("g"), evalLit)).cast("long").as("n_hit"))
      } else {
        // Oversized eval set: explode the corpus grams and probe the
        // eval set through a broadcast hash join (left; count of matched
        // eval side = hits). explode_outer keeps zero-gram docs.
        corpus
          .select(col("doc_id"), size(col("g")).cast("long").as("n_ngrams"),
            explode_outer(col("g")).as("cg"))
          .join(broadcast(evalDf), col("cg") === evalDf("g"), "left")
          .groupBy(col("doc_id"), col("n_ngrams"))
          .agg(count(evalDf("g")).as("n_hit"))
      }
    counted
      .withColumn("contamination",
        round(col("n_hit").cast("double") / col("n_ngrams"), 4))
      .withColumn("flagged", (col("contamination") >= 0.05).cast("long"))
  }

  /** Top-k 3-gram shingles per language: explode → count → per-key
    * rank-filter. The rank filter is the exact logical shape
    * [[graft.plans.TopKPerKeyStrategy]] rewrites, so this plans as the
    * sort-free two-phase heap top-k; the
    * explode/count stage is a standard map-side-combined aggregation.
    * Corpus-level n-gram statistics are the workhorse of quality
    * filtering and contamination checks in training-data pipelines. */
  def topNgramsPerLang(s: SparkSession, dir: String, n: Int = 3,
                       k: Int = 5): DataFrame = {
    val d = Tables.documents(s, dir)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("ngram").asc)
    d.select(col("lang"), tokens(lower(col("text"))).as("tk"))
      .select(col("lang"), explode(grams(col("tk"), n, distinct = false)).as("ngram"))
      .groupBy(col("lang"), col("ngram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("lang"), col("ngram"), col("n"), col("rn").cast("long").as("rank"))
  }

  /** BPE pair counting — the inner loop of byte-pair-encoding tokenizer
    * training: count adjacent symbol pairs across the corpus and take
    * the top-k merge candidates. Tokenize once, form pairs as a narrow
    * zip_with over two slices of the SAME token array (no self-join, no
    * second tokenize), explode, then count. The count aggregate partial-
    * aggregates before its exchange — at 100 TB the shuffle carries one
    * (pair, partial_n) row per distinct pair per task, never the corpus.
    * Top-k is TakeOrderedAndProject with a pinned tie order.
    */
  def bpePairs(s: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val d = Tables.documents(s, dir)
    val tk = col("tk")
    val pairs = when(size(tk) >= 2,
      zip_with(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
        (a, b) => concat(a, lit(" "), b)))
    d.select(tokens(lower(col("text"))).as("tk"))
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Domain-mixing weights (DoReMi/data-mixture flavor): per-domain
    * token shares vs a target distribution, emitting the sampling
    * multiplier and the epochs-over-domain needed to hit target. One
    * narrow token-count projection + a tiny groupBy(domain) — the
    * all-domain totals come from a single-row broadcast crossJoin, not
    * a window over the corpus. Target here is uniform over domains;
    * the operator takes any target map at call sites.
    */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val perDomain = Tables.documents(s, dir)
      .select(col("lang").as("domain"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("domain"))
      .agg(sum(col("n_tok")).as("domain_tokens"),
        count(lit(1)).as("n_docs"))
    val totals = perDomain.agg(
      sum(col("domain_tokens")).as("total_tokens"),
      count(lit(1)).as("n_domains"))
    perDomain.crossJoin(broadcast(totals))
      .select(col("domain"), col("domain_tokens"), col("n_docs"),
        round(col("domain_tokens") / col("total_tokens"), 6).as("share"),
        round(lit(1.0) / col("n_domains"), 6).as("target_share"),
        // sampling multiplier: how much to over/under-sample this domain
        round((lit(1.0) / col("n_domains")) /
          (col("domain_tokens") / col("total_tokens")), 4).as("weight"),
        ceil((lit(1.0) / col("n_domains")) * col("total_tokens") /
          col("domain_tokens")).cast("long").as("epochs_needed"))
  }

  /** Dedup-AWARE mixture weights: [[domainMix]] recomputed on the
    * exact-dedup canonical set — the order matters in a real curation
    * pipeline because a source that is 40% duplicates looks 40% bigger
    * than the data it actually contributes, and weighting before
    * dedup over-samples exactly the sources that padded themselves.
    * Emits raw vs canonical doc/token counts, the per-source dup rate,
    * and the canonical token share the mixture should actually use.
    *
    * Scale shape: canonical selection is the dedup_exact digest
    * aggregation (16-byte keys shuffle, min doc_id wins); the
    * canonical flag rides back on a doc_id-keyed join; both per-source
    * rollups share one partitioning on source. */
  def dedupAwareMix(s: SparkSession, dir: String): DataFrame = {
    // tokenize + digest ONCE: the narrow (id, source, n_tok, h) frame
    // feeds three subtrees (canonical selection + both rollups);
    // without the checkpoint each re-scans and re-tokenizes documents.
    // ~50 bytes/row materialized vs 3 full text passes — the same
    // reuse-the-intermediate call minhashLsh makes.
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(col("text").cast("binary")).as("h"))
      .localCheckpoint(true)
    val canonIds = d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val raw = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"), sum(col("n_tok")).as("tok_raw"))
    val canon = d.join(canonIds, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_canon"), sum(col("n_tok")).as("tok_canon"))
    val total = canon.agg(sum(col("tok_canon")).as("total_canon"))
    raw.join(canon, Seq("source")).crossJoin(broadcast(total))
      .select(col("source"), col("n_raw"), col("n_canon"),
        col("tok_raw"), col("tok_canon"),
        round(lit(1.0) - col("n_canon").cast("double") /
          col("n_raw").cast("double"), 6).as("dup_rate"),
        round(col("tok_canon").cast("double") /
          col("total_canon").cast("double"), 6).as("canon_share"))
  }

  /** Budget-constrained mixture materialization — the step after
    * [[domainMix]] decides the weights: actually PICK the documents.
    * A token budget of 2/5 of the corpus is split evenly across
    * sources (any weight vector plugs in the same way); within each
    * source, docs are taken longest-first (quality proxy, ties pinned
    * by doc_id) while the running token total stays inside the
    * source's budget — a greedy prefix, i.e. one cumulative-sum window
    * per source. All arithmetic is integer (budgets via DIV), so the
    * kept set is bit-deterministic. Scale shape: one narrow token-count
    * projection, a single-row broadcast for the totals, one window
    * shuffle on `source` — the corpus text never moves. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val base = d.select(col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val totals = base.agg(sum(col("n_tokens")).as("total_tokens"),
      countDistinct(col("source")).as("n_src"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.crossJoin(broadcast(totals))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        expr("((total_tokens * 2) DIV 5) DIV n_src").as("src_budget"))
      .filter(col("cum_tokens") <= col("src_budget"))
  }

  /** Data-constrained epoch allocation — the "how many times may each
    * source repeat" calculation a token-budgeted training run makes
    * (à la data-constrained scaling: past ~4 epochs, repeated tokens
    * stop paying): the budget (budgetX × corpus tokens) splits into
    * EQUAL per-source shares (the equal-voice mixture — proportional
    * shares would trivially give every source budgetX epochs), each
    * source draws min(cap·Tₛ, share) tokens, and the report shows the
    * epoch count plus the unfilled remainder a redistribution pass
    * would hand to uncapped sources.
    *
    * Scale shape: one per-source token aggregation; everything after
    * operates on the ≤|sources| frame with a broadcast totals row.
    * Determinism: shares and allocations are integer floor divisions;
    * the single epochs divide runs on exact longs, micro-rounded. */
  def dataConstrainedEpochs(s: SparkSession, dir: String,
                            budgetX: Int = 2, cap: Int = 4): DataFrame = {
    val perSrc = Tables.documents(s, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long")
        .as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val totals = perSrc.agg(sum(col("n_tokens")).as("total"),
      count(lit(1)).as("n_src"))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"),
        expr(s"(total * $budgetX) DIV n_src").as("share_tokens"))
      .withColumn("alloc_tokens",
        least(lit(cap.toLong) * col("n_tokens"), col("share_tokens")))
      .withColumn("epochs_micros",
        round(lit(1e6) * col("alloc_tokens").cast("double") /
          col("n_tokens").cast("double")).cast("long"))
      .withColumn("unfilled_tokens",
        col("share_tokens") - col("alloc_tokens"))
  }

  /** Deterministic interleaved training order — how a 100 TB pipeline
    * fixes the ORDER examples reach the trainer without a global sort:
    * rank within source (one per-source window), then
    * `train_pos = rank·n_src + src_idx`, an injection into a global
    * round-robin over sources. Consecutive positions cycle through
    * sources (no source-contiguous runs — the gradient-staleness
    * failure of source-ordered data), the assignment is reproducible
    * run-to-run, and nothing ever shuffles to a single partition: the
    * source index table is aggregate-sized (one row per source,
    * built with a window over 20 rows) and broadcasts back. Positions
    * are dense per source, sparse globally when sources differ in
    * size — an ORDER BY train_pos stays correct either way. */
  def interleaveOrder(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val srcIdx = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .select(col("source"),
        (row_number().over(Window.orderBy(col("source"))) - 1)
          .cast("long").as("src_idx"),
        count(lit(1)).over(Window.partitionBy()).cast("long").as("n_src"))
      .drop("n_docs")
    val bySrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    base.join(broadcast(srcIdx), "source")
      .select(col("doc_id"), col("source"),
        ((row_number().over(bySrc) - 1).cast("long") * col("n_src") +
          col("src_idx")).as("train_pos"))
  }

  /** Temperature-scaled domain mixture (the multilingual-sampling rule:
    * p_i ∝ share_i^α with α = 0.5): down-weights head domains, boosts
    * the tail, without ever flattening to uniform. α = 0.5 is computed
    * as sqrt — correctly-rounded IEEE, so identical in every engine,
    * where a general pow() need not be. The α-shares quantize to
    * integer micros before normalization, making the denominator (and
    * thus every output) order-independent. Same scale shape as
    * [[domainMix]]: per-domain aggregate + one single-row broadcast.
    */
  def temperatureMix(s: SparkSession, dir: String): DataFrame = {
    val perDomain = Tables.documents(s, dir)
      .select(col("lang").as("domain"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("domain"))
      .agg(sum(col("n_tok")).as("domain_tokens"))
    val totals = perDomain.agg(sum(col("domain_tokens")).as("total_tokens"))
    val share = col("domain_tokens").cast("double") / col("total_tokens")
    val withSi = perDomain.crossJoin(broadcast(totals))
      .withColumn("si", round(sqrt(share) * 1e6, 0).cast("long"))
    withSi
      .withColumn("si_total", sum(col("si")).over(Window.partitionBy()))
      .select(col("domain"), col("domain_tokens"),
        round(share, 6).as("share"),
        round(col("si").cast("double") / col("si_total"), 6).as("temp_share"),
        round((col("si").cast("double") / col("si_total")) / share, 4)
          .as("multiplier"))
  }

  /** Shingle fan-out through the custom table-generating function
    * (`shingle_gen`, the charter's Generator extension point): one
    * output row per 3-token shingle, STREAMED from the generator —
    * no per-document shingle array is ever allocated, which is the
    * memory difference on a million-token document. Bounded slice
    * (doc_id < 40) keeps the oracle face small; positional duplicates
    * are preserved (set semantics are the caller's distinct).
    */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") < 40).select(col("doc_id"),
      shingleGen(tokens(lower(col("text"))), 3).as("shingle"))

  /** Character-entropy quality signal (gibberish / mojibake / binary-
    * spill detector): Shannon entropy over the 26-letter distribution
    * of the lowercased text. Letter counts come from 26 codegen'd
    * `length − length(replace(...))` terms — no explode, no per-char
    * rows; entropy terms quantize to integer micro-nats before the
    * in-row fold so the score is bit-stable cross-engine. Natural text
    * sits near ~4.2 bits; uniform noise near log₂26 ≈ 4.7; repeated
    * single letters near 0 — the keep band is a narrow filter.
    */
  def charEntropy(docs: DataFrame): DataFrame = {
    // native one-pass histogram (letter_counts kernel): the 26-term
    // length(lower) − length(regexp_replace(lower, c, "")) battery it
    // replaces ran 26 regex passes + 52 lower() evaluations per row —
    // bit-equal by construction (each removed char is one char of the
    // lowercased string), LetterCountsImpl documents the proof
    docs
      .select(col("doc_id"),
        letterCounts(col("text")).as("cnt"))
      .select(col("doc_id"), col("cnt"),
        aggregate(col("cnt"), lit(0L), (a, x) => a + x).as("n_letters"))
      .filter(col("n_letters") > 0)
      .select(col("doc_id"), col("n_letters"),
        // -Σ p·log2(p), each term in integer micro-bits. log2 as
        // ln/ln(2) with a literal divisor: both engines' natural log
        // agree (pinned by the unigram-LM oracles); a built-in log2
        // need not.
        (aggregate(col("cnt"), lit(0L), (acc, x) =>
          acc + when(x > 0, round(
            (x.cast("double") / col("n_letters")) *
              (log(x.cast("double") / col("n_letters")) /
                lit(0.6931471805599453)) * 1e6, 0)
            .cast("long")).otherwise(0L)).cast("double") / -1e6)
          .as("entropy_raw"))
      .select(col("doc_id"), col("n_letters"),
        round(col("entropy_raw"), 6).as("entropy_bits"),
        (col("entropy_raw") >= 3.5 && col("entropy_raw") <= 4.6)
          .as("natural_text"))
  }

  /** Jensen–Shannon divergence between every domain pair's unigram
    * distributions — the symmetric, bounded ([0, ln 2]) mixture
    * distance a data-mixing pipeline reports (how far apart are my
    * domains?). Per-domain token distributions aggregate once; the
    * pairwise JSD then runs over (domain × domain × vocab) JOINED rows
    * — vocab-sized, never corpus-sized. Full outer join per pair keeps
    * one-sided tokens (the other side contributes 0 probability); each
    * log term micro-nat-quantizes before summation.
    */
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("lang").as("domain"),
        explode(tokens(lower(col("text")))).as("token"))
      .groupBy(col("domain"), col("token")).agg(count(lit(1)).as("n"))
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("domain"))))
      .select(col("domain"), col("token"),
        (col("n").cast("double") / col("total")).as("p"))
    // explicit pair frame: a token present in only ONE side of a pair
    // must still contribute (the other side reads probability 0) — a
    // bare token join cannot represent those rows
    val doms = tok.select(col("domain")).distinct()
    val pairs = doms.select(col("domain").as("dom_a"))
      .crossJoin(doms.select(col("domain").as("dom_b")))
      .filter(col("dom_a") < col("dom_b"))
    val left = pairs.join(
      tok.select(col("domain").as("dom_a"), col("token"), col("p").as("pa")),
      Seq("dom_a"))
    val right = pairs.join(
      tok.select(col("domain").as("dom_b"), col("token"), col("p").as("pb")),
      Seq("dom_b"))
    val pa = coalesce(col("pa"), lit(0.0))
    val pb = coalesce(col("pb"), lit(0.0))
    val m = (pa + pb) / 2
    val term = (c: Column) =>
      when(c > 0, c * log(c / m)).otherwise(lit(0.0))
    left.join(right, Seq("dom_a", "dom_b", "token"), "full_outer")
      .select(col("dom_a"), col("dom_b"),
        (round((term(pa) + term(pb)) / 2 * 1e6, 0).cast("long"))
          .as("term_micro"))
      .groupBy(col("dom_a"), col("dom_b"))
      .agg(round(sum(col("term_micro")).cast("double") / 1e6, 6).as("jsd"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme):
    * hash every n-token shingle, slide a w-hash window, keep each
    * window's MINIMUM hash — guaranteeing any match of length ≥ n+w−1
    * tokens shares a fingerprint, with ~2/(w+1) of shingle hashes kept.
    * This is the local-dedup/plagiarism selection rule MinHash's global
    * signature can't express (MinHash answers "how similar are two
    * docs", winnowing answers "WHERE do they overlap").
    *
    * Scale shape: tokenize once into an attribute, shingle-hash once
    * into a second attribute (the slice lambda reads attributes only —
    * never re-runs the tokenizer; the O(tokens²) inlining trap), then
    * the window-min selection is a third narrow pass. Zero exchanges
    * before the final distinct explode; hashes are md5-60 so the oracle
    * replays them bit-for-bit.
    */
  def winnow(docs: DataFrame, n: Int = 4, w: Int = 4): DataFrame = {
    // native md5-60 (digest bytes → long, codegen'd): the composed
    // conv(substring(md5)) chain materialized a hex string PER SHINGLE
    // and was the round-4 bench tail (7.6s).
    // Gram construction and window-min selection are both native one-
    // pass kernels (token_ngrams, rolling_min): the HOF forms went
    // quadratic once InferFiltersFromGenerate's size(…)>0 filter
    // inlined the tokenizer/hash arrays into their lambdas; the only
    // per-element work left is the md5 itself, applied to lambda-bound
    // grams (never a recomputed child)
    docs
      .select(col("doc_id"), tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= n + w - 1)
      .select(col("doc_id"),
        transform(grams(col("tk"), n, distinct = false), g => md5Base60(g))
          .as("hs"))
      .select(col("doc_id"),
        explode(array_distinct(rollingMin(col("hs"), w)))
          .as("fingerprint"))
  }

  /** URL canonicalization + host profile — the crawl-curation step that
    * precedes URL-level dedup: extract the URL, drop the fragment and
    * utm_* tracking params, case-fold the host and strip its `www.`
    * prefix, then profile hosts (page count, distinct paths). Regexes
    * stay in the Java ∩ RE2 dialect. All per-row work is one narrow
    * codegen'd projection; the host profile shuffles only (host, path).
    */
  /** The canonical (host, path) of each doc's first URL — the shared
    * normalization of [[urlNormalize]] and [[urlDedup]].
    * utm stripping in three anchored steps, so ONLY actual utm params
    * are touched (an unconditional orphan-'&' repair would corrupt
    * URLs with a literal '&' in the path): drop non-leading utms,
    * then a leading utm followed by a kept param hands its '?' over,
    * then a leading utm with no successor leaves with its '?'. */
  private def hostPath(docs: DataFrame): DataFrame = {
    val url = regexp_extract(col("text"), raw"https?://[^\s]+", 0)
    val noFrag = regexp_replace(url, raw"#[^\s]*", "")
    val noTail = regexp_replace(noFrag, raw"&utm_[a-z]+=[^&#\s]*", "")
    val noLead = regexp_replace(noTail, raw"\?utm_[a-z]+=[^&#\s]*&", "?")
    val noTrack = regexp_replace(noLead, raw"\?utm_[a-z]+=[^&#\s]*", "")
    val host = regexp_replace(
      lower(regexp_extract(noTrack, raw"^https?://([^/]+)", 1)), raw"^www\.", "")
    val path = regexp_extract(noTrack, raw"^https?://[^/]+(/[^?#\s]*)", 1)
    docs
      .select(col("doc_id"), host.as("host"), path.as("path"))
      .filter(col("host") =!= "")
  }

  def urlNormalize(docs: DataFrame): DataFrame =
    hostPath(docs)
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_pages"),
        countDistinct(col("path")).as("n_paths"))

  /** URL-level dedup — the crawl-frontier step: tracking-param and
    * fragment variants of one page collapse onto a canonical URL; the
    * smallest doc_id per canonical URL survives. Same one-shuffle
    * digest-group shape as exact content dedup, but keyed on the
    * normalized URL instead of the text digest — at crawl scale this
    * runs BEFORE fetching/deduping content, which is why it is its own
    * operator and not a special case of [[Dedup.exact]]. */
  def urlDedup(docs: DataFrame): DataFrame =
    hostPath(docs)
      .groupBy(concat(col("host"), col("path")).as("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_id"))

  /** Bigram language-model perplexity proxy — the next step up from
    * [[unigramLogProb]]: score every document by the mean log
    * P(w₂|w₁) = (c(w₁,w₂) + k) / (c(w₁·) + k·V) with add-k smoothing
    * (k = 0.5, V = follower-vocabulary size), trained on the corpus
    * itself. Repetitive/templated text scores high, token salad scores
    * low — the CCNet-style quality signal with first-order context.
    *
    * Scale shape: bigrams are built ROW-LOCALLY (one `transform` over
    * the token array — no positional self-join); the model is one
    * (w₁,w₂) aggregation, its head-marginal re-aggregates model rows,
    * and scoring is a model-sized broadcast join back to the exploded
    * corpus (word-bigram-vocab-sized; swap to a shuffle join if the
    * model outgrows broadcast, same plan otherwise). Determinism:
    * per-bigram log-probs quantize to integer micro-nats before the
    * per-doc mean (order-independent sums, same as the unigram LM). */
  def bigramLogProb(s: SparkSession, dir: String,
                    lowQualityNats: Double = -4.0): DataFrame = {
    val d = Tables.documents(s, dir)
    val toksCol = tokens(lower(col("text")))
    val pairs = bigramExplode(d, toksCol, col("doc_id"))
    val model = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val heads = model.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val vocab = model.select(countDistinct(col("w2")).as("v"))
    val scored = pairs
      .join(broadcast(model), Seq("w1", "w2"))
      .join(broadcast(heads), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("c12").cast("double") + lit(0.5)) /
          (col("c1").cast("double") + lit(0.5) * col("v"))) * 1e6, 0)
          .cast("long").as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp_micro")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("mean_logprob"))
    d.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_logprob"),
        when(col("mean_logprob") < lowQualityNats, 1L).otherwise(0L)
          .as("low_quality"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (D = 0.75) over the
    * corpus — the smoothing real n-gram LMs ship (KenLM's default), one
    * rung above [[bigramLogProb]]'s add-k: P(w2|w1) = (c12−D)/c1 +
    * D·N1+(w1,·)/c1 · N1+(·,w2)/T, where the continuation weight
    * N1+(·,w2)/T asks "in how many distinct contexts does w2 appear"
    * rather than "how often" — the fix for high-count-but-single-context
    * tokens. Emits the top `k` bigrams by count (ties broken (w1, w2))
    * with every model term exposed.
    *
    * Scale shape: one pair aggregation (map-side combined) builds the
    * bigram model; ALL four KN statistics (c1, forward/backward type
    * counts, total types) fold over that model frame via two tiny
    * aggregations and one window — the corpus is scanned once.
    * Determinism: counts are exact longs, D = 0.75 is an exact binary
    * double, one fixed-shape IEEE expression per row, micro-rounded;
    * the LIMIT is fully tie-broken. */
  /** KN-perplexity DOCUMENT scoring — the CCNet/KenLM quality filter
    * with the real smoothing: each document's bigrams are scored under
    * the corpus-trained Kneser-Ney model ([[knBigrams]]' exact
    * arithmetic, un-truncated), and the document's quality signal is
    * its mean bigram log-probability in nats; the rare-construction
    * tail (mean below `highPerpNats`) is flagged the way a perplexity
    * threshold flags machine-generated/boilerplate text. In-corpus
    * scoring, so every doc bigram exists in the model (no backoff
    * path); docs with < 2 tokens have no bigrams and no row — the
    * oracle excludes them identically.
    *
    * Scale shape: the model is a (w1, w2)-keyed frame, SUBLINEAR in
    * corpus size but not broadcast-sized at 100 TB — the score join
    * shuffles on the bigram key (both sides partition on (w1, w2));
    * the stats sides (heads/tails/total) stay model-sized broadcasts.
    * Log-probs quantize to integer micro-nats BEFORE the per-doc sum
    * (the [[unigramLogProb]] determinism trick), so the mean is
    * partitioning- and fold-order-independent. */
  def knDocScore(s: SparkSession, dir: String, d: Double = 0.75,
                 highPerpNats: Double = -7.0): DataFrame = {
    val docPairs = knDocPairs(Tables.documents(s, dir))
    knScoreDocs(docPairs, knScoredModel(docPairs, d), highPerpNats)
  }

  /** The per-document (doc_id, w1, w2) bigram stream both KN doc-score
    * faces tokenize from — ONE definition so the staged model and the
    * in-session model fold identical pairs. */
  private def knDocPairs(docs: DataFrame): DataFrame =
    bigramExplode(docs, tokens(lower(col("text"))), col("doc_id"))

  /** The trained KN model frame (w1, w2, pkn_micros): one map-side
    * combined pair aggregation plus model-sized stat broadcasts —
    * shared verbatim by [[knDocScore]] (in-session) and
    * [[knDocScoreIndexed]] (staged once per corpus), so both faces'
    * probabilities are the same integers. */
  private def knScoredModel(docPairs: DataFrame, d: Double): DataFrame = {
    val model = docPairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val heads = model.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fw_types"))
    val tails = model.groupBy(col("w2")).agg(count(lit(1)).as("bw_types"))
    val total = model.agg(count(lit(1)).as("t_types"))
    model
      .join(broadcast(heads), Seq("w1"))
      .join(broadcast(tails), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("fw_types"), col("bw_types"), col("t_types"),
        // greatest(…, 1) guards the log against a micro-rounded zero
        // (only reachable when a head exceeds ~4M occurrences)
        greatest(round(lit(1e6) * (
          (col("c12").cast("double") - lit(d)) / col("c1").cast("double") +
            lit(d) * col("fw_types").cast("double") /
              col("c1").cast("double") *
              (col("bw_types").cast("double") /
                col("t_types").cast("double")))).cast("long"), lit(1L))
          .as("pkn_micros"))
  }

  /** Score each document's bigrams under a (w1, w2, pkn_micros) model
    * frame — the join shuffles on the bigram key; log-probs quantize
    * to micro-nats before the per-doc sum (fold-order independent). */
  private def knScoreDocs(docPairs: DataFrame, scored: DataFrame,
                          highPerpNats: Double): DataFrame =
    docPairs.join(scored, Seq("w1", "w2"))
      .select(col("doc_id"),
        round(log(col("pkn_micros").cast("double") / 1e6) * 1e6, 0)
          .cast("long").as("lp_micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lp_micro")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("mean_kn_logprob"))
      .withColumn("high_perplexity",
        (col("mean_kn_logprob") < highPerpNats).cast("long"))

  /** [[knDocScore]] over a PERSISTED KN model — the ret4/bm25 "train
    * once, score many" split applied to the round's slowest soak face.
    * The in-session face pays the model build (two corpus
    * tokenizations: one under the pair aggregation, one under the
    * score join — Spark recomputes the shared docPairs subtree) on
    * EVERY run; here the scored (w1, w2, pkn_micros) frame stages once
    * per (corpus fingerprint, D) and a scoring run is ONE corpus
    * tokenization plus a shuffle join against the staged model. A
    * 100 TB pipeline scores arriving shards against yesterday's model
    * exactly this way (CCNet trains KenLM offline, filters online).
    * Bit-equal to [[knDocScore]] — same model arithmetic
    * ([[knScoredModel]]), same scoring tail ([[knScoreDocs]]) — so
    * both share one oracle; the equality is pinned in Round11Spec. */
  def knDocScoreIndexed(s: SparkSession, dir: String, d: Double = 0.75,
                        highPerpNats: Double = -7.0): DataFrame =
    knScoreDocs(knDocPairs(Tables.documents(s, dir)),
      stagedKnModel(s, dir, d), highPerpNats)

  /** The staged KN model: (w1, w2, c12, c1, fw_types, bw_types,
    * t_types, pkn_micros), built once per (corpus fingerprint, D) —
    * v2 carries the full sufficient statistics so every KN face
    * (doc scoring, the top-k bigram report) serves from one
    * artifact. */
  private def stagedKnModel(s: SparkSession, dir: String,
                            d: Double): DataFrame = {
    // the discount is part of the cache key EXACTLY (the other staged
    // models' b$buckets/g$g convention): a rounded key would serve a
    // d=0.75 model to a d=0.752 caller with no error
    val base = Staging.base("kn_model_v2", dir, s"d$d", "documents")
    Staging.buildOnce(base) {
      knScoredModel(knDocPairs(Tables.documents(s, dir)), d)
        // the model is vocab²-bounded (sublinear in corpus size); a
        // handful of files keeps the scoring join's scan cheap without
        // a single-writer bottleneck at build time
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$base/model")
    }
    s.read.parquet(s"$base/model")
  }

  /** [[knBigrams]] served from the STAGED model: the top-k bigram
    * report re-derives the UNGUARDED pkn_micros (knBigrams' exact
    * expression) from the staged integer statistics — same exact
    * inputs, same IEEE expression, so the report is bit-equal to the
    * in-session face (Round11Spec pin) and shares its oracle; the
    * corpus is not rescanned at all. */
  def knBigramsIndexed(s: SparkSession, dir: String, k: Int = 200,
                       d: Double = 0.75): DataFrame =
    stagedKnModel(s, dir, d)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("fw_types"), col("bw_types"), col("t_types"),
        round(lit(1e6) * (
          (col("c12").cast("double") - lit(d)) / col("c1").cast("double") +
            lit(d) * col("fw_types").cast("double") /
              col("c1").cast("double") *
              (col("bw_types").cast("double") /
                col("t_types").cast("double"))))
          .cast("long").as("pkn_micros"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)

  /** `text_ccnet_buckets` — CCNet's perplexity bucketing (Wenzek et
    * al., LREC 2020: score every document under a target-domain LM,
    * split the corpus into head/middle/tail thirds by perplexity, keep
    * head+middle — the filter behind CCNet/LLaMA pretraining data).
    * Here the LM is the staged KN bigram model ([[knDocScoreIndexed]]
    * — the "train KenLM offline, bucket online" split CCNet itself
    * uses), rank is by mean log-prob DESC (head = most fluent), and
    * the face emits the per-bucket rollup a pipeline acts on: doc
    * count, bigram mass, exact log-prob mass in micro-nats, fluency
    * range, doc share.
    *
    * Scale: scoring is the indexed face's one-tokenization join; the
    * tercile split is EXACT and scale-safe — [[Ranking.withGlobalRank]]
    * range-partitions the per-doc rollup (no single-partition sort)
    * and [[Ranking.ntileOfRank]] turns rank into the bucket in closed
    * form, bit-identical to the ntile window it replaced. */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucket split: scalable exact ntile (Ranking.withGlobalRank's
    // range-partitioned rank + closed-form tile arithmetic — no
    // single-partition sort of the per-doc frame; bit-equal, the
    // ordering is doc_id tie-broken)
    // checkpointed: the rank helper's size probe and the rank plan
    // each execute their input once — cut the scoring pipeline
    // (tokenize + model join) to a doc-level rollup first
    val b = Ranking.withGlobalRank(
        knDocScoreIndexed(s, dir).localCheckpoint(true),
        "__rn", "__n",
        Seq(col("mean_kn_logprob").desc, col("doc_id").asc))
      .withColumn("bucket", Ranking.ntileOfRank(col("__rn"), col("__n"), 3))
      .withColumn("lp_micros",
        round(col("mean_kn_logprob") * 1e6).cast("long"))
    // total_docs folds over the 3-ROW bucket rollup, not the scored
    // frame — a broadcast agg on `b` would re-run the whole scoring
    // pipeline (tokenize + model join + global sort) a second time
    b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("sum_bigrams"),
        sum(col("lp_micros")).as("sum_lp_micros"),
        max(col("mean_kn_logprob")).as("best_logprob"),
        min(col("mean_kn_logprob")).as("worst_logprob"))
      .withColumn("total_docs",
        sum(col("n_docs")).over(Window.partitionBy(lit(1))))
      .select(col("bucket"), col("n_docs"), col("sum_bigrams"),
        col("sum_lp_micros"), col("best_logprob"), col("worst_logprob"),
        expr("(1000000 * n_docs) DIV total_docs").as("share_micros"))
  }

  def knBigrams(s: SparkSession, dir: String, k: Int = 200,
                d: Double = 0.75): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toksCol = tokens(lower(col("text")))
    val pairs = bigramExplode(docs, toksCol)
    val model = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    // per-head totals and forward type counts share one aggregation
    val heads = model.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fw_types"))
    val tails = model.groupBy(col("w2")).agg(count(lit(1)).as("bw_types"))
    val total = model.agg(count(lit(1)).as("t_types"))
    model
      .join(broadcast(heads), Seq("w1"))
      .join(broadcast(tails), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("fw_types"), col("bw_types"), col("t_types"),
        round(lit(1e6) * (
          (col("c12").cast("double") - lit(d)) / col("c1").cast("double") +
            lit(d) * col("fw_types").cast("double") /
              col("c1").cast("double") *
              (col("bw_types").cast("double") / col("t_types").cast("double"))))
          .cast("long").as("pkn_micros"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Closed-vocabulary OOV rate: the fraction of each document's token
    * occurrences NOT covered by the corpus's top-1000 most frequent
    * tokens (ties broken lexicographically) — the coverage check run
    * before committing to a fixed tokenizer vocabulary, and a strong
    * gibberish signal on its own.
    *
    * Scale shape: the vocabulary is one token aggregation rank-filtered
    * to 1000 rows (model-sized sort), then a broadcast LEFT join back
    * to the exploded corpus — absent ⇒ OOV. The per-doc fold is exact
    * integer counting; rate micro-rounds once per doc. */
  def oovRate(s: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksOf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
    val vocab = toksOf.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1))
          .orderBy(col("freq").desc, col("tok").asc)))
      .filter(col("rk") <= topK)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toksOf.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(lit(1e6) * col("n_oov").cast("double") / col("n_tokens"))
          .cast("long").as("oov_rate_micros"))
  }

  /** First-occurrence n-gram NOVELTY: the fraction of a document's
    * distinct token 3-grams whose earliest appearance in the corpus
    * (by doc_id) is this document — the contribution score a
    * dedup-aware curation loop uses to rank what each new document
    * actually adds. Boilerplate-heavy docs score near 0; the corpus's
    * first doc scores 1 by construction.
    *
    * Scale shape: grams build ROW-LOCALLY (one transform over the
    * token array), dedupe per doc, then ONE gram-keyed aggregation
    * finds each gram's min doc_id and the ownership check is a
    * co-partitioned join back on gram. At 100 TB "earliest" would key
    * on an ingest timestamp instead of doc_id — identical plan.
    * All-integer counting; one divide per doc, micro-rounded. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val gramsDf = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        array_distinct(tokenNgrams(col("toks"), 3, false)).as("grams"))
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    // Per-doc totals and per-doc first-seen counts are BOTH doc-keyed
    // aggregates, so the final join is doc-sized — the gram-level
    // (grams ⋈ firstSeen) self-join the first cut shuffled twice over
    // is gone. A doc's novel count = #grams whose corpus-wide min
    // doc_id is that doc, which firstSeen already carries; docs whose
    // grams are all seen earlier take the coalesce(0) branch. Both
    // aggregations partial-aggregate map-side; at 100 TB the gram
    // aggregation is the one data-sized shuffle and the join exchanges
    // only doc-cardinality rows.
    val perDoc = gramsDf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val novelPerDoc = gramsDf.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novelPerDoc, col("doc_id") === col("first_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(lit(1e6) * col("n_novel").cast("double") / col("n_grams"))
          .cast("long").as("novelty_micros"))
  }

  /** TF-IDF cluster labels: the top-5 most characteristic tokens per
    * language bucket, scored tf·ln(N/df) — how a curation pipeline
    * names its clusters/domains for human review. Corpus-wide terms
    * (df = N) score zero and fall out of the ranking naturally.
    *
    * Scale shape: the tf aggregation is the only data-sized shuffle;
    * the df table is vocabulary-sized and broadcasts (the unigram-model
    * shape). The rank filter is the TopKPerKey pattern, so it plans
    * through the custom heap exec:
    * ≤5 survivors per lang per partition cross the final shuffle, no
    * sorts. Determinism: integer counts, micro-nat quantization,
    * lexicographic tie-break. */
  def tfidfLabels(s: SparkSession, dir: String, topN: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"), col("lang"),
      explode(tokens(lower(col("text")))).as("tok"))
    val dfv = toks.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("tf"))
      .join(broadcast(dfv), "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("lang"), col("tok"), col("tf"), col("df"),
        round(lit(1e6) * col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df"))).cast("long")
          .as("score_micros"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("score_micros").desc, col("tok").asc)))
      .filter(col("rn") <= topN)
      .select(col("lang"), col("rn").cast("long").as("rank"), col("tok"),
        col("tf"), col("df"), col("score_micros"))
  }

  /** Flesch reading-ease readability battery — the classic quality
    * signal readability-based corpus filters (e.g. textbook-style
    * selection) threshold on. Syllables are approximated by vowel-group
    * runs (`[aeiouy]+` on the lowercased text), sentences by terminal
    * punctuation runs (floored at 1), words by letter runs:
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    *
    * Scale shape: a pure narrow projection — three `regexp_count`s and
    * one fixed IEEE polynomial per row, whole-stage codegen'd, zero
    * shuffles; at 100 TB the cost is exactly the corpus scan.
    * Determinism: counts are exact longs and the score expression has a
    * fixed evaluation shape, micro-rounded per row. */
  def readability(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val words = regexp_count(col("text"), lit("[A-Za-z]+")).cast("long")
    val syll = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    val sents = greatest(
      regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
    d.select(col("doc_id"), words.as("n_words"), sents.as("n_sentences"),
        syll.as("n_syllables"))
      .withColumn("flesch_micros",
        when(col("n_words") > 0,
          round(lit(1e6) * (lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))))
            .cast("long"))
          .otherwise(lit(null).cast("long")))
  }

  /** Vocabulary coverage curve: what fraction of all corpus token
    * OCCURRENCES a top-k frequency vocabulary covers, sampled every
    * `step` ranks up to `maxK` — the sizing curve a tokenizer budget
    * decision reads (the [[oovRate]] integral, one row per candidate
    * cutoff instead of one fixed cutoff). Defaults fit the fixture's
    * 31-token synthetic vocabulary; a real corpus would sample
    * hundreds-of-thousands-of-ranks with the same plan.
    *
    * Scale shape: one data-sized token-count aggregation; the rank
    * window and cumulative sum run on the vocab-sized frame (corpus
    * vocabulary ≪ corpus — the same bound oovRate's top-k selection
    * rides). Exact integer counts; one micro-rounded divide per row. */
  def coverageCurve(s: SparkSession, dir: String, step: Int = 5,
                    maxK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = Tables.documents(s, dir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // the curve only reads ranks ≤ maxK, and the cumulative sum at
    // rank r involves exactly the rows ranked ≤ r — so select the
    // top-maxK FIRST (orderBy+limit = TakeOrdered, a distributed
    // heap) and run the two-expression window over that maxK-row
    // model frame instead of the corpus vocabulary
    val rankW = Window.partitionBy(lit(1))
      .orderBy(col("freq").desc, col("tok").asc)
    val cum = freqs
      .orderBy(col("freq").desc, col("tok").asc).limit(maxK)
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .withColumn("cum", sum(col("freq")).over(rankW))
    cum.filter(col("rk") % step === 0 && col("rk") <= maxK)
      .crossJoin(broadcast(freqs.agg(sum(col("freq")).as("total"))))
      .select(col("rk").as("vocab_size"), col("cum").as("cum_tokens"),
        col("total").as("total_tokens"),
        round(lit(1e6) * col("cum").cast("double") / col("total"))
          .cast("long").as("coverage_micros"))
  }

  /** Token BURSTINESS: the variance-to-mean ratio of each token's
    * per-document count over ALL documents (zeros included — that is
    * the point: topical tokens concentrate in few docs, function words
    * spread evenly). VMR ≈ 1 is Poisson/function-word; VMR ≫ 1 is
    * bursty/topical — the signal that separates content terms from
    * glue for stopword lists and keyword extraction.
    *
    * Scale shape: one (token, doc) count aggregation, one token-level
    * rollup, and the top-20 rank filter plans through the TopKPerKey
    * heap. Zero-count docs never materialize: VMR derives from N, Σc,
    * Σc² alone — VMR = (N·Σc² − (Σc)²) / (N·Σc), exact integers with
    * one micro-rounded divide. */
  def burstiness(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))
    val perTok = perDoc.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    perTok
      .withColumn("rk", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("total").desc, col("tok").asc)))
      .filter(col("rk") <= topK)
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), col("df"), col("total"),
        round(lit(1e6) *
          (col("n_docs") * col("sumsq") - col("total") * col("total"))
            .cast("double") /
          (col("n_docs") * col("total")).cast("double")).cast("long")
          .as("vmr_micros"))
  }

  /** Zipf-law fit over the top-`topK` corpus tokens: OLS of
    * ln(freq) on ln(rank) — a natural-language corpus sits near slope
    * −1; a slope far off flags boilerplate floods or synthetic spam
    * before they poison a tokenizer vocabulary.
    *
    * Scale shape: ONE token-count aggregation (map-side partials on
    * token keys) is the only data-sized stage; the rank window and the
    * regression run on the topK-row model. Determinism: ln(rank) and
    * ln(freq) micro-quantize to longs per row, the normal-equation
    * sums are exact integer sums (bounded: (1.5e7)²·topK ≈ 2e16 ≪
    * 2⁶³), and slope/intercept are a FIXED sequence of IEEE divides on
    * those integers — mirrored literally by the oracle, then 6dp
    * rounding on top. */
  def zipfFit(s: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = Tables.documents(s, dir)
      .select(explode(tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1))
          .orderBy(col("freq").desc, col("tok").asc)))
      .filter(col("rk") <= topK)
    val pts = freqs.select(
      round(lit(1e6) * log(col("rk").cast("double"))).cast("long").as("xm"),
      round(lit(1e6) * log(col("freq").cast("double"))).cast("long").as("ym"))
    pts.agg(
        count(lit(1)).as("n"),
        sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
        sum(col("xm") * col("ym")).as("sxy"),
        sum(col("xm") * col("xm")).as("sxx"))
      .select(col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"),
        col("sx"), col("sy"))
      .select(col("n"), col("num"), col("den"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("slope"),
        round((col("sy").cast("double") / col("n").cast("double") -
          (col("num").cast("double") / col("den").cast("double")) *
            (col("sx").cast("double") / col("n").cast("double"))) / 1e6, 6)
          .as("intercept_nats"))
  }

  /** `text_textrank` — TextRank keyword extraction (Mihalcea & Tarau):
    * weighted PageRank over the word co-occurrence graph, the
    * graph-centrality answer to "which terms MATTER in this corpus"
    * beside [[keyness]]'s frequency-contrast answer. Nodes are corpus
    * terms, edges adjacent-token bigrams symmetrized with count
    * weights; rank mass flows proportionally to edge weight over the
    * source's total outgoing weight, damping 0.85, 10 rounds, top-20.
    *
    * Scale shape: the graph build is one exploded-bigram aggregation
    * (vocab²-bounded but corpus-sparse — only observed bigrams
    * materialize); each round is ONE narrow contrib shuffle over
    * vocab-sized frames with localCheckpoint lineage cuts, the
    * [[Graphs.pagerank]] loop shape re-keyed by term. The converged
    * ranks stage once per (dataset fingerprint, params) so repeated
    * queries are an index read. Symmetrization means every node has
    * in-edges — no dangling-mass handling needed.
    *
    * Determinism: the pagerank convention — per-edge contributions
    * round to integer micros BEFORE the cross-partition sum, teleport
    * and damping terms round separately, so 10 rounds of IEEE math
    * land on identical longs in any engine. */
  def textrank(s: SparkSession, dir: String, iters: Int = 10,
               damping: Double = 0.85, k: Int = 20): DataFrame = {
    // teleport = 1 - damping derived through DECIMAL arithmetic: the
    // IEEE expression 1 - 0.85 is one ulp away from the 0.15 literal
    // the oracle embeds, and that ulp can flip a round() boundary
    val teleport = (BigDecimal(1) - BigDecimal(damping.toString)).toDouble
    val base = Staging.base("stage_textrank_v1", dir,
      s"${iters}_${math.round(damping * 1000)}", "documents")
    Staging.buildOnce(base) { Staging.scratch(s) {
      val tk = Tables.documents(s, dir)
        .select(tokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
      val pairs = tk
        .select(slice(col("tk"), lit(1), size(col("tk")) - 1).as("l"),
          slice(col("tk"), lit(2), size(col("tk")) - 1).as("r"))
        .select(explode(arrays_zip(col("l"), col("r"))).as("p"))
        .select(col("p.l").as("a"), col("p.r").as("b"))
        .filter(col("a") =!= col("b"))
      // aggregate the DIRECTED bigrams first (one corpus explode),
      // then symmetrize the vocab²-bounded count frame — identical
      // edge weights at half the corpus-scan and shuffle cost of
      // symmetrizing the raw token stream
      val directed = pairs.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("w"))
      val edges = directed
        .unionAll(directed.select(col("b").as("a"), col("a").as("b"),
          col("w")))
        .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
        .select(col("a").as("src"), col("b").as("dst"), col("w"))
      val wout = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
      val withW = edges.join(wout, "src").localCheckpoint(true)
      val nodes = edges.select(col("src").as("term")).distinct()
        .localCheckpoint(true)
      val nTotal = broadcast(nodes.agg(count(lit(1)).as("n"))
        .localCheckpoint(true))
      var ranks = nodes.crossJoin(nTotal)
        .select(col("term"),
          round(lit(1e6) / col("n")).cast("long").as("r"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contrib = withW.join(ranks, col("src") === col("term"))
          .select(col("dst"),
            round(col("r").cast("double") * col("w") / col("wout"))
              .cast("long").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
        ranks = nodes.join(contrib, col("term") === col("dst"), "left")
          .crossJoin(nTotal)
          .select(col("term"),
            (round(lit(teleport) * lit(1e6) / col("n")).cast("long") +
              round(lit(damping) * coalesce(col("in_mass"), lit(0L)))
                .cast("long")).as("r"))
          .localCheckpoint(true)
      }
      ranks.write.mode("overwrite").parquet(s"$base/data")
    } }
    s.read.parquet(s"$base/data")
      .select(col("term"), col("r").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("term").asc)
      .limit(k)
  }
}
