package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** Distributed model training steps. The pattern that matters at
  * 100 TB: the DATA never moves — each optimization step is one narrow
  * map-side-combined aggregation over a feature projection, and only
  * the MODEL (here four longs) round-trips through the driver, exactly
  * like the k-means codebook in [[Similarity]]. Features are projected
  * and checkpointed once, so per-step cost is a columnar scan of four
  * longs, not a re-tokenization of the corpus.
  *
  * Determinism: the whole GD trajectory runs in integer micro-units.
  * Per-doc predictions and per-doc gradient contributions round to
  * whole micros BEFORE any cross-row sum, so every aggregation is an
  * integer sum — independent of partitioning, evaluation order, and
  * engine. Every float op in the loop is a single IEEE multiply/divide
  * on integers ≤ 2^53 (checked ranges in the Scaladoc below), which
  * IEEE 754 makes bit-identical everywhere. The DuckDB oracle replays
  * the identical trajectory as a recursive CTE carrying the weight
  * vector as a list.
  */
object Training {

  /** Round half away from zero — what SQL `round()` does in BOTH Spark
    * and DuckDB. Scala's `math.round` is half-UP (toward +∞), which
    * differs on negative halves, so the driver-side weight update must
    * not use it. */
  private def rnd(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong

  /** Full-batch gradient descent for a linear probe of lang='en' over
    * three document features (chars/1000, tokens/100, vowel ratio) plus
    * bias, all in integer micros. `iters` synchronous steps at learning
    * rate `lr`; returns the trained weight vector as
    * (feature, weight_micros).
    *
    * Value ranges (why every double op is exact-input): weights stay
    * ~1e5 micros, features ≤ 6e6 micros → the 4-term dot ≤ ~1e13 (exact
    * long, exact double); residuals ≤ ~3e6; per-doc gradient terms
    * ≤ ~2e13 as an IEEE product of two exact doubles; per-feature
    * gradient sums ≤ ~1e11 (exact long and double at any tested SF). */
  def linearGd(s: SparkSession, dir: String, iters: Int = 8,
               lr: Double = 0.05): DataFrame =
    gdLoop(s, dir, iters, lr)(dot =>
      round(dot.cast("double") / lit(1e6)).cast("long"))

  /** Shared full-batch GD driver over the ml1 feature projection:
    * `predict` maps the micro²-scale dot column to the per-row
    * prediction in MICROS (linear: rescale+round; logistic: quantized
    * sigmoid); the residual is prediction − label, so every gradient
    * sum stays an exact integer sum. Features tokenize ONCE
    * (localCheckpoint); each step re-reads four long columns and only
    * the 4-long weight vector round-trips through the driver. */
  private def gdLoop(s: SparkSession, dir: String, iters: Int, lr: Double)
                    (predict: Column => Column): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"),
      t => length(t) > lit(0))
    val feats0 = Tables.documents(s, dir).select(
      (col("n_chars") * 1000L).as("x1"),
      (size(toks).cast("long") * 10000L).as("x2"),
      round(lit(1e6) *
        (length(col("text")) -
          length(translate(col("text"), "aeiou", ""))).cast("double") /
        greatest(length(col("text")), lit(1))).cast("long").as("x3"),
      lit(1000000L).as("x4"),
      when(col("lang") === "en", 1000000L).otherwise(0L).as("y"))
    val w = Staging.scratch(s) {
      val feats = feats0.localCheckpoint(true)
      val xs = Seq("x1", "x2", "x3", "x4")
      var w = Array(0L, 0L, 0L, 0L)
      // n rides along in every step's aggregate row instead of its
      // own up-front count() job: the loop is driver-job-count bound
      // (8 synchronous steps over a 4-long-column checkpoint), so one
      // fewer round trip is a direct ~11% fixed-cost cut
      var n = -1L
      for (_ <- 1 to iters) {
        val dot = xs.zipWithIndex
          .map { case (c, j) => lit(w(j)) * col(c) }
          .reduce(_ + _)
        val resid = (predict(dot) - col("y")).as("r")
        val g = feats.select(resid +: xs.map(col): _*)
          .select(xs.map(c =>
            sum(round(col("r").cast("double") * col(c) / lit(1e6))
              .cast("long")).as(s"g_$c")) :+
            count(lit(1)).as("n"): _*)
          .head()
        n = g.getLong(4)
        w = Array.tabulate(4)(j => w(j) - rnd(lr * g.getLong(j).toDouble / n))
      }
      w
    }
    import s.implicits._
    Seq(("chars_k", w(0)), ("tokens_h", w(1)),
      ("vowel_ratio", w(2)), ("bias", w(3)))
      .toDF("feature", "weight_micros")
  }

  /** Hashing-trick (feature-hashing) vectorizer: each token maps to one
    * of `buckets` feature slots via md5 with an independent md5-parity
    * sign, and a document's sparse vector is the signed count per slot
    * (Weinberger et al., ICML'09 — the signed variant keeps collision
    * noise zero-mean). The vocabulary-free shape a 100 TB corpus
    * needs: no dictionary build, no second pass, no model state — just
    * a pure hash. Pipeline-wise it is one narrow explode + one
    * aggregation that partial-aggregates map-side, so at most
    * `buckets` rows per document per partition reach the shuffle, not
    * the token stream. Arithmetic is all-integer (signed counts), so
    * determinism is free. Zero-weight slots (collision cancellation)
    * drop, matching sparse-vector semantics. */
  def featureHash(s: SparkSession, dir: String,
                  buckets: Int = 64): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"),
      t => length(t) > lit(0))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(toks).as("tok"))
      .select(col("doc_id"),
        (md5Base60(concat(lit("fh_"), col("tok")))
          % buckets).as("bucket"),
        when(md5Base60(concat(lit("fs_"), col("tok")))
          % 2 === 0, 1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** BPE tokenizer training (Sennrich et al., ACL'16): `merges`
    * synchronous rounds of count-adjacent-pairs → merge-the-argmax,
    * returning the learned merge table (iter, pair, merged,
    * pair_count). The scale shape is what makes BPE trainable on a
    * 100 TB corpus: after ONE corpus pass builds the (word, count)
    * vocabulary, every round runs over the VOCAB table only — a
    * map-side-combined pair-count shuffle plus a narrow merge
    * projection — and the model that round-trips through the driver is
    * a single rule per round (TakeOrderedAndProject limit 1, tie-break
    * pinned count-desc then pair-asc).
    *
    * Merge semantics: a word's segmentation is the space-padded
    * char-joined string, and applying a rule is THREE passes of literal
    * (non-regex) replace of " a b " with " ab " — left-to-right
    * non-overlapping literal replacement behaves identically in every
    * engine (no regex dialect, no metachar escaping), and the bounded
    * fixpoint differs from canonical greedy BPE only inside 4+-long
    * alternating repeat runs. The DuckDB twin replays the identical
    * loop as a recursive CTE whose per-round argmax is an aggregate
    * subquery over the working table. All counts are integers —
    * determinism is free. */
  def bpeTrain(s: SparkSession, dir: String, merges: Int = 10): DataFrame = {
    val rules = bpeRun(s, dir, merges)((rules, _) => rules)
    import s.implicits._
    rules.toDF("iter", "pair", "merged", "pair_count")
  }

  /** BPE encoding of the corpus under the learned merges — the second
    * half of the tokenizer story, and the half that dominates at
    * 100 TB (train once, encode everything). The encode never rescans
    * the corpus: the training loop's working table already carries
    * every distinct word's segmentation under all applied merges, so
    * the corpus-wide token table is one explode + hash-agg over the
    * VOCAB with the word counts riding along (`n_occurrences` =
    * Σ instances × word-count). Returns (token, n_words,
    * n_occurrences); the table is tokenizer-vocabulary-sized — i.e.
    * the MODEL — which is what licenses the driver round-trip. */
  def bpeEncode(s: SparkSession, dir: String, merges: Int = 10): DataFrame = {
    val toks = bpeRun(s, dir, merges) { (_, vocab) =>
      vocab
        .select(col("word"), col("cnt"),
          explode(split(trim(col("seg")), " ")).as("token"))
        .groupBy(col("token"))
        .agg(countDistinct(col("word")).as("n_words"),
          sum(col("cnt")).as("n_occurrences"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    }
    import s.implicits._
    toks.toDF("token", "n_words", "n_occurrences")
  }

  /** Per-document token counts under the trained tokenizer — the
    * encode-at-scale join shape. The MODEL here is the (word →
    * token-count) map the training loop's final vocab already holds;
    * encoding the corpus is one explode + broadcast join against it
    * (word-level, so the big side never shuffles) + a per-doc hash-agg.
    * At 100 TB the vocab may outgrow a broadcast — the same plan then
    * runs as a shuffle join on `word`, nothing else changes
    * (`broadcastModel = false` takes that exact path; Round7Spec pins
    * result equality and the shuffle-join plan shape). Only
    * alphabetic words count (the trainer's own token universe), so
    * every corpus word hits the model and the join is inner. */
  def bpeDocTokens(s: SparkSession, dir: String, merges: Int = 10,
                   broadcastModel: Boolean = true): DataFrame = {
    val wordLens = bpeRun(s, dir, merges) { (_, vocab) =>
      vocab.select(col("word"),
          size(split(trim(col("seg")), " ")).cast("long").as("n_tok"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toList
    }
    import s.implicits._
    val modelDf = wordLens.toDF("word", "n_tok")
    val model = if (broadcastModel) broadcast(modelDf) else modelDf
    val words = filter(split(lower(col("text")), "\\s+"),
      t => t.rlike("^[a-z]+$"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(words).as("word"))
      .join(model, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_bpe_tokens"))
  }

  /** Unigram^0.75 negative-sampling table — the noise distribution
    * word2vec/SGNS training draws negatives from (the 3/4 power lifts
    * the tail so rare words are sampled enough to learn): top-k corpus
    * tokens with their dampened sampling weights. The power computes
    * as exp(0.75·ln c) EXPLICITLY on both engines — `pow` is the one
    * libm entry point whose last-ulp behavior differs across
    * implementations, while exp/ln parity is already load-bearing
    * repo-wide. Each dampened score quantizes to micros BEFORE the
    * normalizing sum, so the total is an order-independent exact
    * integer.
    *
    * Scale shape: one token-count aggregation; the top-k rank filter
    * plans through TopKPerKey; normalization is a window sum over the
    * ≤ k survivors. */
  def negativeSampling(s: SparkSession, dir: String,
                       k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1))
      .orderBy(col("c").desc, col("tok").asc)
    val all = Window.partitionBy(lit(1))
    Tables.documents(s, dir)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("s_micros",
        round(lit(1e6) * exp(lit(0.75) * log(col("c").cast("double"))))
          .cast("long"))
      .withColumn("weight_micros",
        round(lit(1e6) * col("s_micros").cast("double") /
          sum(col("s_micros")).over(all).cast("double")).cast("long"))
      .select(col("rank"), col("tok"), col("c"), col("s_micros"),
        col("weight_micros"))
  }

  /** Per-merge-rule compression impact — which BPE rules actually pay:
    * for each learned rule, the corpus token total before and after it
    * applies (cnt-weighted over the training vocabulary) and the
    * tokens it saved. The tokenizer-budget view that justifies (or
    * kills) growing the merge table — late rules with near-zero
    * savings are vocab slots wasted.
    *
    * Scale shape: rules come from the staged model (driver-side, 10
    * rows); the vocabulary re-derives in one corpus scan, and ALL
    * per-rule segment lengths compute in ONE narrow projection (the
    * cumulative 3-pass replace chain, one column per rule) folded by a
    * single aggregate — never a pass per rule over the corpus.
    * Determinism: replays the trainer's own replace semantics on exact
    * integer counts; zero float ops. */
  def bpeMergeImpact(s: SparkSession, dir: String,
                     merges: Int = 10): DataFrame = {
    val (rules, _) = bpeRun(s, dir, merges)((r, v) => (r, v))
    val toks = filter(split(lower(col("text")), "\\s+"),
      t => t.rlike("^[a-z]+$"))
    val vocab0 = Tables.documents(s, dir)
      .select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    var seg: Column = concat(lit(" "),
      regexp_replace(col("word"), "(.)", "$1 "))
    var lenCols = Vector(size(split(trim(seg), " ")).cast("long").as("l0"))
    rules.foreach { case (it, pair, merged, _) =>
      val pat = lit(" " + pair + " ")
      val rep = lit(" " + merged + " ")
      def once(c: Column): Column = call_function("replace", c, pat, rep)
      seg = once(once(once(seg)))
      lenCols :+= size(split(trim(seg), " ")).cast("long").as(s"l$it")
    }
    val aggs = (0 to rules.length).map(i =>
      sum(col("cnt") * col(s"l$i")).as(s"t$i"))
    val totRow = vocab0.select(col("cnt") +: lenCols: _*)
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    import s.implicits._
    rules.map { case (it, pair, merged, pc) =>
      val before = totRow.getLong(it - 1)
      val after = totRow.getLong(it)
      (it.toLong, pair, merged, pc, before, after, before - after)
    }.toDF("iter", "pair", "merged", "pair_count",
      "tokens_before", "tokens_after", "tokens_saved")
  }

  /** Per-language BPE fertility — average subword tokens per
    * whitespace word, the first metric a tokenizer review reads (a
    * lang with fertility 2× another pays 2× the context budget per
    * word; the signal that drives vocab rebalancing). Builds on
    * [[bpeDocTokens]]' per-doc counts, so the staged merge model is
    * reused, not retrained.
    *
    * Scale shape: the per-doc frame's word-explode is the data-sized
    * stage (shared with tok3); the lang rollup re-aggregates
    * doc-cardinality rows. Determinism: exact integer token/word
    * sums, one IEEE divide per lang, micro-rounded. */
  def bpeFertility(s: SparkSession, dir: String,
                   merges: Int = 10): DataFrame = {
    val perDoc = bpeDocTokens(s, dir, merges)
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        round(lit(1e6) * col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double")).cast("long")
          .as("fertility_micros"))
  }

  /** True BPE application — encode ARBITRARY words, including ones the
    * trainer never saw, by replaying the learned merge rules in order
    * (what a real tokenizer does at inference; the vocab-join of
    * [[bpeDocTokens]] only covers the training corpus). Input is the
    * corpus vocabulary plus injected out-of-vocabulary probe words
    * (`zz`+letter-coded doc_id — guaranteed unseen); every word starts
    * character-segmented and each of the 10 rules applies as the same
    * 3-pass literal replace the trainer used. In-vocab words compress
    * exactly as in training (the loop IS this fold); OOV words fall
    * back toward character-level wherever no learned pair matches —
    * the correct BPE generalization, not an error. The rule table
    * comes from the staged model (driver-side, 10 rows); the fold is a
    * narrow 30-replace projection over distinct words — no join, no
    * shuffle beyond the distinct. Output (word, n_tok, is_oov). */
  def bpeApply(s: SparkSession, dir: String, merges: Int = 10): DataFrame = {
    // the staged model already holds the distinct corpus vocabulary —
    // no full-text rescan; only the narrow doc_id column is read again
    // (for the probe-word derivation)
    val (rules, vocab) = bpeRun(s, dir, merges)((r, v) => (r, v))
    val corpusWords = vocab.select(col("word"), lit(0L).as("is_oov"))
    val oovWords = Tables.documents(s, dir)
      .select(concat(lit("zz"),
        expr("char(97 + doc_id % 26)"),
        expr("char(97 + (doc_id DIV 26) % 26)"),
        expr("char(97 + (doc_id DIV 676) % 26)")).as("word"),
        lit(1L).as("is_oov"))
      .distinct()
    val seg0 = concat(lit(" "),
      regexp_replace(col("word"), "(.)", "$1 "))
    val folded = rules.foldLeft(seg0) { case (seg, (_, pair, merged, _)) =>
      val pat = lit(" " + pair + " ")
      val rep = lit(" " + merged + " ")
      def once(c: Column): Column = call_function("replace", c, pat, rep)
      once(once(once(seg)))
    }
    corpusWords.unionByName(oovWords)
      .select(col("word"), col("is_oov"),
        size(split(trim(folded), " ")).cast("long").as("n_tok"))
  }

  /** `tok12_bpe_dropout` — BPE-dropout subword regularization
    * (Provilkov et al., ACL 2020): during ENCODING each learned merge
    * is stochastically skipped, so one word yields varied
    * segmentations and the model sees its subword lattice instead of
    * one canonical split. This face is the RULE-granular variant —
    * one coin per (word, rule) from the repo's md5 sampling-coin
    * convention (`md5_60("bd1_<iter>:<word>") mod 10 < pTenths`),
    * replayable on any engine; the paper's per-OCCURRENCE coin needs
    * per-match randomness inside a string scan that no engine's
    * deterministic builtins expose — same regularization signal,
    * coarser grain, honestly labeled. Emits the per-word dual
    * encoding (canonical n_tok vs dropout n_tok_drop, rules dropped)
    * with the corpus-mass token overhead riding along (dropout only
    * ever splits COARSER, so overhead ≥ 1e6 micros by construction —
    * the spec asserts both).
    *
    * Scale shape: the merge table is the staged KB-scale model
    * ([[bpeRun]] — train once per corpus); both encodings fold as one
    * narrow 30-replace + coin projection over the vocab-bounded
    * distinct-word frame; the rollup is a 1-row broadcast. */
  def tok12BpeDropout(s: SparkSession, dir: String, merges: Int = 10,
                      pTenths: Int = 3): DataFrame =
    bpeRun(s, dir, merges)(bpeDropout(_, _, pTenths))

  /** [[tok12BpeDropout]] over a given merge table and vocab. The
    * dropout's NUL sentinel relies on every vocab word matching
    * `^[a-z]+$` (the filter in [[bpeRun]]), so that is checked first. */
  private[operators] def bpeDropout(rules: List[(Int, String, String, Long)],
                                    vocab: DataFrame,
                                    pTenths: Int): DataFrame = {
    require(vocab.filter(!col("word").rlike("^[a-z]+$")).isEmpty,
      "bpe dropout: every vocab word must match ^[a-z]+$, or the NUL " +
        "sentinel of a dropped merge could occur in a segmentation")
    val seg0 = concat(lit(" "),
      regexp_replace(col("word"), "(.)", "$1 "))
    def apply3(c: Column, pair: String, merged: String): Column = {
      val pat = lit(" " + pair + " ")
      val rep = lit(" " + merged + " ")
      def once(x: Column): Column = call_function("replace", x, pat, rep)
      once(once(once(c)))
    }
    def coin(it: Int): Column =
      pmod(md5Base60(
        concat(lit(s"bd1_$it:"), col("word"))), lit(10L)) <
        lit(pTenths.toLong)
    val base = rules.foldLeft(seg0) { case (c, (_, pair, merged, _)) =>
      apply3(c, pair, merged)
    }
    // dropout via a CONDITIONAL PATTERN, not a conditional branch:
    // `when(coin, c).otherwise(apply3(c, …))` referenced the
    // accumulated tree TWICE per rule, so 10 rules built a 2^10-copy
    // expression tree (~100k nodes) that dominated analysis, codegen
    // AND execution. Swapping the rule's pattern for a string that
    // cannot occur in a segmentation (NUL — segs are space-joined
    // [a-z] runs) makes the dropped round's replace an exact identity,
    // so each rule adds 3 linear replace nodes and the output strings
    // are byte-identical to the branching form.
    val dropped = rules.foldLeft(seg0) { case (c, (it, pair, merged, _)) =>
      val pat = when(coin(it), lit("\u0000"))
        .otherwise(lit(" " + pair + " "))
      val rep = lit(" " + merged + " ")
      def once(x: Column): Column = call_function("replace", x, pat, rep)
      once(once(once(c)))
    }
    val nDropped = rules
      .map { case (it, _, _, _) => when(coin(it), 1L).otherwise(0L) }
      .reduce(_ + _)
    val perWord = vocab.select(col("word"), col("cnt"),
      size(split(trim(base), " ")).cast("long").as("n_tok"),
      size(split(trim(dropped), " ")).cast("long").as("n_tok_drop"),
      nDropped.as("n_rules_dropped"))
    val tot = broadcast(perWord.agg(
      sum(col("cnt") * col("n_tok")).as("base_tokens"),
      sum(col("cnt") * col("n_tok_drop")).as("drop_tokens")))
    perWord.crossJoin(tot)
      .select(col("word"), col("cnt"), col("n_tok"), col("n_tok_drop"),
        col("n_rules_dropped"), col("base_tokens"), col("drop_tokens"),
        round(lit(1e6) * col("drop_tokens").cast("double") /
          col("base_tokens").cast("double")).cast("long")
          .as("overhead_micros"))
  }

  /** Shared merge loop with a PERSISTED model (the tokenizer twin of
    * [[Similarity.annIvfIndexed]]'s index registry): the first call
    * for a corpus trains — one vocabulary pass, `merges` synchronous
    * rounds — and stages the merge table plus the final segmented
    * vocab as parquet keyed by corpus path + (size, mtime)
    * fingerprint; every later call (tok2's token table, tok3's corpus
    * encode, a re-run of tok1 itself) reads the staged model instead
    * of replaying the loop. That is the real 100 TB economics: BPE
    * training is a once-per-corpus job, encoding is the recurring one,
    * and the model a session ships around is KB-scale parquet. A
    * regenerated corpus changes the fingerprint and retrains; results
    * are bit-identical either way (the staged frames ARE the loop's
    * output). Concurrent first calls in separate JVMs share the
    * [[Staging]] caveat.
    * `finish` receives (rules, final vocab) with nothing cached —
    * everything the loop persisted is unpersisted before staging
    * completes. */
  private def bpeRun[T](s: SparkSession, dir: String, merges: Int)(
      finish: (List[(Int, String, String, Long)], DataFrame) => T): T = {
    // v1 = algorithm version: bump when the training logic changes so
    // a stale staged model can never serve a new code version
    val base = Staging.base("bpe_v1", dir, s"$merges", "documents")
    Staging.buildOnce(base) { Staging.scratch(s) {
      val toks = filter(split(lower(col("text")), "\\s+"),
        t => t.rlike("^[a-z]+$"))
      var vocab = Tables.documents(s, dir)
        .select(explode(toks).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .select(col("word"), col("cnt"),
          concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 "))
            .as("seg"))
        .localCheckpoint(true)
      val buf = collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
      for (r <- 1 to merges) {
        val arr = split(trim(col("seg")), " ")
        val pairs = zip_with(
          slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (a, b) => concat(a, lit(" "), b))
        val best = vocab.select(col("cnt"), explode(pairs).as("pair"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("pc"))
          .orderBy(col("pc").desc, col("pair").asc)
          .limit(1).collect()
        if (best.nonEmpty) {
          val pair = best(0).getString(0)
          val merged = pair.replace(" ", "")
          buf += ((r, pair, merged, best(0).getLong(1)))
          val pat = lit(" " + pair + " ")
          val rep = lit(" " + merged + " ")
          def once(c: Column): Column = call_function("replace", c, pat, rep)
          vocab = vocab
            .select(col("word"), col("cnt"),
              once(once(once(col("seg")))).as("seg"))
            .localCheckpoint(true)
        }
      }
      import s.implicits._
      buf.toList.toDF("iter", "pair", "merged", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/rules")
      vocab.write.mode("overwrite").parquet(s"$base/vocab")
    } }
    val rules = s.read.parquet(s"$base/rules").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toList
    finish(rules, s.read.parquet(s"$base/vocab"))
  }

  /** Per-dimension min-max scaling of the embedding matrix, reported as
    * the 64-row verification summary (dim, min_micros, max_micros,
    * sum_scaled, n_vecs) — sum_scaled is the integer checksum of the
    * whole scaled column, so the entire N×64 scaled matrix is
    * hash-pinned without materializing it.
    *
    * Two passes, as min-max inherently needs: pass 1 reduces the
    * exploded (dim, micro) stream to a 64-row stats frame (map-side
    * combined — only 64 partials per task cross the wire); pass 2
    * re-streams the elements against the BROADCAST stats row, so no
    * data-sized shuffle exists anywhere. Values micro-quantize on
    * entry (float→double is exact, one IEEE multiply, round) and every
    * scaled value is round(1e6·(m−min)/(max−min)) on exact integer
    * inputs — deterministic in any order and engine. */
  def minmaxScale(s: SparkSession, dir: String): DataFrame = {
    val el = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("m"))
    val stats = el.groupBy(col("dim")).agg(
      min(col("m")).as("min_micros"), max(col("m")).as("max_micros"),
      count(lit(1)).as("n_vecs"))
    el.join(broadcast(stats), "dim")
      .groupBy(col("dim"), col("min_micros"), col("max_micros"),
        col("n_vecs"))
      .agg(sum(when(col("max_micros") > col("min_micros"),
          round(lit(1e6) * (col("m") - col("min_micros")) /
            (col("max_micros") - col("min_micros"))).cast("long"))
        .otherwise(0L)).as("sum_scaled"))
      .select(col("dim"), col("min_micros"), col("max_micros"),
        col("sum_scaled"), col("n_vecs"))
  }

  /** Per-dimension ROBUST scaling ((x − median) / IQR) — the outlier-
    * immune sibling of [[minmaxScale]], reported as the 64-row summary
    * (dim, q1/med/q3 in micros, iqr, n_outliers, sum_scaled).
    *
    * Determinism: values micro-quantize to exact longs on entry, so the
    * linearly-interpolated quartiles land on exact binary fractions
    * (.0/.25/.5/.75 of integer gaps — representable doubles on any
    * engine), the 1.5·IQR fences are exact double arithmetic on those,
    * and the scaled-column checksum is a per-element round summed as
    * longs. Same two-pass shape as min-max (exact quantiles need the
    * full column): pass 1 reduces to the 64-row stats frame via
    * `percentile` (per-dim sort of a numeric column — at 100 TB swap in
    * `percentile_approx`, same plan shape), pass 2 re-streams against
    * the BROADCAST stats — no data-sized shuffle. */
  def robustScale(s: SparkSession, dir: String): DataFrame = {
    val el = Tables.embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("m"))
    val stats = el.groupBy(col("dim")).agg(
      expr("percentile(m, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select(col("dim"),
        element_at(col("qs"), 1).as("q1_micros"),
        element_at(col("qs"), 2).as("med_micros"),
        element_at(col("qs"), 3).as("q3_micros"))
      .withColumn("iqr_micros", col("q3_micros") - col("q1_micros"))
    el.join(broadcast(stats), "dim")
      .groupBy(col("dim"), col("q1_micros"), col("med_micros"),
        col("q3_micros"), col("iqr_micros"))
      .agg(
        sum(when(col("m") < col("q1_micros") - lit(1.5) * col("iqr_micros") ||
            col("m") > col("q3_micros") + lit(1.5) * col("iqr_micros"), 1L)
          .otherwise(0L)).as("n_outliers"),
        sum(when(col("iqr_micros") > 0,
            round(lit(1e6) * (col("m") - col("med_micros")) /
              col("iqr_micros")).cast("long"))
          .otherwise(0L)).as("sum_scaled"))
      .select(col("dim"), col("q1_micros"), col("med_micros"),
        col("q3_micros"), col("iqr_micros"), col("n_outliers"),
        col("sum_scaled"))
  }

  /** Per-vector L2 normalization: (vec_id, norm_micros, unit_checksum).
    * Fully row-local — micro-quantize, Σx² (≤ 64·(1.1e6)² ≈ 7.7e13,
    * exact long and double), one IEEE sqrt, and the normalized vector's
    * integer checksum Σ round(1e6·x/‖x‖) — all inside ONE projection of
    * higher-order functions over the array column. Zero shuffles, zero
    * UDFs: the at-scale cost is exactly one columnar scan. */
  def l2Normalize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("ms"))
      .select(col("vec_id"), col("ms"),
        round(sqrt(aggregate(col("ms"), lit(0L),
          (acc, x) => acc + x * x).cast("double"))).cast("long")
          .as("norm_micros"))
      .select(col("vec_id"), col("norm_micros"),
        when(col("norm_micros") > 0,
          aggregate(col("ms"), lit(0L),
            (acc, x) => acc +
              round(lit(1e6) * x / col("norm_micros")).cast("long")))
          .otherwise(0L).as("unit_checksum"))

  /** Logistic-regression GD — the classification twin of [[linearGd]]
    * on the same four features and en-label: per step the residual is
    * sigmoid(w·x) − y with the probability micro-quantized per row
    * BEFORE the gradient products, so every cross-row sum stays an
    * exact integer sum (the engine's GD determinism discipline); the
    * only transcendental is one exp per row, identical IEEE shape on
    * any engine. Model (4 longs) round-trips through the driver per
    * step; data never moves. */
  def logisticGd(s: SparkSession, dir: String, iters: Int = 8,
                 lr: Double = 0.05): DataFrame =
    gdLoop(s, dir, iters, lr) { dot =>
      // z on unit scale: micros·micros / 1e12
      round(lit(1e6) /
        (lit(1.0) + exp(-(dot.cast("double") / lit(1e12))))).cast("long")
    }

  /** Leading principal direction of the embedding GRAM matrix via
    * power iteration — the PCA building block, in the repo's
    * model-collect shape: the DATA-sized stage is ONE aggregation
    * building G = Σ rows m·mᵀ (each row emits its 64×64 outer product
    * row-locally, map-side combined to ≤4096 partials per task); the
    * iterations then run on the collected 64×64 MODEL, never the data.
    *
    * Determinism (the interesting part): the whole iteration is
    * exact-integer linear algebra — G entries are exact long sums of
    * micro products, each matvec term rounds to a long BEFORE the
    * (order-free) integer sum, the rescale pivots on the exact integer
    * max, and the only IEEE ops per iteration are one divide per
    * component and one sqrt on exact inputs. The oracle replays all
    * five iterations in chained materialized CTEs bit-for-bit —
    * impossible with a float accumulation whose sum order floats. */
  def pcaPower(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val g = Tables.embeddings(s, dir)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("ms"))
      .select(posexplode(col("ms")).as(Seq("i", "mi")), col("ms"))
      .select(col("i"), col("mi"), posexplode(col("ms")).as(Seq("j", "mj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("mi") * col("mj")).as("g"))
    val rows = g.collect()
    if (rows.isEmpty) { // empty corpus degrades to an empty frame,
      import s.implicits._ // not a driver-side empty.max crash
      return Seq.empty[(Long, Long)].toDF("dim", "v_micros")
    }
    val dims = rows.map(_.getInt(0)).max + 1
    val gm = Array.ofDim[Long](dims, dims)
    rows.foreach(r => gm(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var v = Array.fill(dims)(halfUp(1e6 / math.sqrt(dims)))
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(dims) { i =>
        var acc = 0L
        (0 until dims).foreach { j =>
          acc += halfUp(gm(i)(j).toDouble * v(j) / 1e6)
        }
        acc
      }
      val m = w.map(math.abs).max
      val sv = w.map(wi => halfUp(1e6 * wi.toDouble / m))
      val norm = math.sqrt(sv.map(x => x * x).sum.toDouble)
      v = sv.map(x => halfUp(1e6 * x.toDouble / norm))
    }
    import s.implicits._
    v.zipWithIndex.map { case (vm, d) => (d.toLong, vm) }.toSeq
      .toDF("dim", "v_micros")
  }

  /** Out-of-fold TARGET ENCODING of a categorical column — the
    * leakage-safe way to turn `lang` into a numeric feature: each
    * (category, fold) cell is encoded from the category's target sum
    * EXCLUDING that fold's own rows, additively smoothed toward the
    * global prior (m = 10 pseudo-rows), so no row's target ever leaks
    * into its own encoding. Emits the 25-row (category × fold) encoder
    * model (n_rows, sum_target, oof_enc_micros); applying it to the
    * corpus is a broadcast join on (lang, fold).
    *
    * Scale shape: ONE data-sized aggregation (groupBy lang, fold —
    * map-side combined to ≤ |cats|·|folds| partials per task); the
    * per-category and global margins re-aggregate those 25 partial rows,
    * never the data. Folds come from the md5-60 bucket of doc_id
    * (Sampling.bucket100), so membership is reproducible on any engine.
    *
    * Determinism: target sums are exact longs (n_chars); the smoothed
    * encoding is a fixed-shape IEEE expression on exact inputs —
    * (sum_cat − sum_fold + m·prior) / (n_cat − n_fold + m) — evaluated
    * identically by Spark and the oracle, then micro-rounded. */
  def targetEncode(s: SparkSession, dir: String): DataFrame = {
    val m = 10.0
    val d = Tables.documents(s, dir).select(
      col("lang"),
      (Sampling.bucket100(col("doc_id")) % 5).as("fold"),
      col("n_chars"))
    val byFold = d.groupBy(col("lang"), col("fold")).agg(
      count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_target"))
    val byLang = byFold.groupBy(col("lang")).agg(
      sum(col("n_rows")).as("n_lang"), sum(col("sum_target")).as("sum_lang"))
    val global = byLang.agg(
      sum(col("n_lang")).as("n_all"), sum(col("sum_lang")).as("sum_all"))
    byFold.join(broadcast(byLang), "lang")
      .crossJoin(broadcast(global))
      .select(col("lang"), col("fold"), col("n_rows"), col("sum_target"),
        round(lit(1e6) *
          ((col("sum_lang") - col("sum_target")).cast("double") +
            lit(m) * (col("sum_all").cast("double") / col("n_all"))) /
          ((col("n_lang") - col("n_rows")).cast("double") + lit(m)))
          .cast("long").as("oof_enc_micros"))
  }

  /** Multinomial naive-Bayes language classifier trained on the
    * deterministic md5 train half and evaluated as a confusion matrix
    * on the held-out half — the classic fast supervised baseline a
    * curation pipeline trains on weak labels (here the lang column)
    * before paying for anything neural. Laplace-smoothed scores via
    * the absent-term identity: ln((c+1)/(N_l+V)) summed over doc
    * tokens = Σ_matched ln(c+1) − n_tokens·ln(N_l+V), so tokens a
    * language never saw contribute exactly 0 to the first sum and the
    * scorer is an INNER join against the model — no (token × lang)
    * grid of zeros ever materializes.
    *
    * Scale shape: training is one (lang, token) word-count aggregation
    * (map-side combined); the model is vocab-sized and BROADCASTS to
    * the test-token scorer; per-(doc, lang) sums are the one
    * data-sized shuffle; the lang grid completes through a ≤|langs|
    * broadcast. Determinism: every ln term quantizes to integer
    * micro-nats before summation (the PSI/MI convention); the
    * per-lang penalty quantizes ONCE on the model frame and scales by
    * exact token counts; argmax ties break on lang ascending. */
  def naiveBayes(s: SparkSession, dir: String): DataFrame = {
    val toks = (c: Column) =>
      filter(split(lower(c), "\\s+"), t => length(t) > 0)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), toks(col("text")).as("tk"),
        (Sampling.bucket100(col("doc_id")) < 50).as("is_train"))
    val trainTok = docs.filter(col("is_train"))
      .select(col("lang"), explode(col("tk")).as("tok"))
    // checkpointed: the model frame is referenced by the n_l rollup,
    // the vocab count AND the scorer's broadcast join — each expansion
    // re-scanned and re-tokenized the train half (3 corpus scans); the
    // frame is vocab-sized
    val model = trainTok.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val nl = model.groupBy(col("lang")).agg(sum(col("c")).as("n_l"))
    // V from the model frame, not a second corpus tokenization:
    // distinct tokens of the train half ≡ distinct tok over the
    // (lang, tok) model rows — same integer by construction
    val vocab = model.agg(countDistinct(col("tok")).as("v"))
    val priors = docs.filter(col("is_train"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        docs.filter(col("is_train")).agg(count(lit(1)).as("n_tr"))))
      .join(nl, Seq("lang"))
      .crossJoin(broadcast(vocab))
      .select(col("lang"),
        round(lit(1e6) * log(col("n_docs").cast("double") /
          col("n_tr").cast("double"))).cast("long").as("prior_micros"),
        round(lit(1e6) * log((col("n_l") + col("v")).cast("double")))
          .cast("long").as("pen_micros"))
    val test = docs.filter(!col("is_train"))
      .select(col("doc_id"), col("lang").as("lang_true"),
        size(col("tk")).cast("long").as("n_toks"), col("tk"))
    val matched = test
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .join(broadcast(model), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(round(lit(1e6) * log(col("c").cast("double") + 1.0))
        .cast("long")).as("s1"))
    val scored = test.select(col("doc_id"), col("lang_true"), col("n_toks"))
      .crossJoin(broadcast(priors))
      .join(matched, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang_true"), col("lang"),
        (coalesce(col("s1"), lit(0L)) - col("n_toks") * col("pen_micros") +
          col("prior_micros")).as("score_micros"))
    // argmax via min(struct): struct ordering compares field-by-field,
    // so min over (-score, lang) picks the highest score with ties to
    // the ascending lang — the exact (score desc, lang asc) row_number
    // window this replaces (same UTF8 binary string order), but as a
    // map-side-combinable aggregate instead of a shuffle + sort +
    // window over the full doc×lang grid (guide §2.3: aggregate before
    // you shuffle). Negation cannot overflow: scores are micro-nats of
    // token log-sums, |score| ≪ 2^63.
    scored
      .groupBy(col("doc_id"), col("lang_true"))
      .agg(min(struct((-col("score_micros")).as("neg"),
        col("lang").as("lang"))).getField("lang").as("lang_pred"))
      .groupBy(col("lang_true"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** `ml20_woe_iv` — weight-of-evidence encoding + information value,
    * the classic supervised categorical-feature screen (credit-scoring
    * lineage; in a data pipeline it ranks which metadata columns
    * predict a label before anything trains). Label: customer placed
    * ≥ 1 URGENT order (customers without orders are negatives via the
    * left join's null fill). Features: market segment, and nation name
    * through the broadcast dim join. Per (feature, category):
    * WOE = ln(((n_pos+½)/pos_tot) / ((n_neg+½)/neg_tot)) at the
    * engine-shared round-to-6dp convention (the bm25 idf precedent);
    * IV = Σ_cat (pos share − neg share)·WOE, each term quantized to
    * integer micros before the sum so the fold is order-independent.
    *
    * Scale shape: one orders aggregation keyed on custkey (the label),
    * one broadcast dim join, one (feature, category) aggregation whose
    * cardinality is the category space (tiny), then a window over that
    * tiny frame — no corpus-sized shuffle after the first agg. */
  def ml20WoeIv(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lbl = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1L)
        .otherwise(0L)).as("label"))
    val cust = Tables.customer(s, dir)
      .join(lbl, Seq("c_custkey"), "left")
      .select(col("c_nationkey"), col("c_mktsegment"),
        coalesce(col("label"), lit(0L)).as("label"))
    val feats = cust
      .select(lit("mktsegment").as("feature"),
        col("c_mktsegment").as("category"), col("label"))
      .unionByName(cust
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(lit("nation").as("feature"),
          col("n_name").as("category"), col("label")))
    val byCat = feats.groupBy(col("feature"), col("category"))
      .agg(sum(col("label")).as("n_pos"),
        sum(lit(1L) - col("label")).as("n_neg"))
    val byFeat = Window.partitionBy(col("feature"))
    byCat
      .withColumn("pos_tot", sum(col("n_pos")).over(byFeat))
      .withColumn("neg_tot", sum(col("n_neg")).over(byFeat))
      .withColumn("woe6", round(log(
        ((col("n_pos") + lit(0.5)) / col("pos_tot")) /
          ((col("n_neg") + lit(0.5)) / col("neg_tot"))), 6))
      .withColumn("iv_term",
        round(lit(1e6) *
          (col("n_pos") / col("pos_tot") - col("n_neg") / col("neg_tot")) *
          col("woe6")).cast("long"))
      .withColumn("iv_micros", sum(col("iv_term")).over(byFeat))
      .select(col("feature"), col("category"), col("n_pos"), col("n_neg"),
        round(lit(1e6) * col("woe6")).cast("long").as("woe_micros"),
        col("iv_micros"))
  }

  /** `ml21_stump` — exact best-split search for a depth-1 decision
    * tree (the boosting/GBDT base learner, and one tree node of the
    * histogram algorithm every distributed GBDT uses — XGBoost's
    * `approx`, LightGBM's binned split finder): per feature, order the
    * value BINS, sweep every boundary once via cumulative sums, and
    * keep the threshold with the largest Gini impurity gain for the
    * urgent-order label. Candidate thresholds are HISTOGRAM BINS, not
    * raw values — exactly the trick that makes the sweep scale: the
    * shuffle carries (feature, bin) aggregates (≤ a few hundred rows),
    * never the orders.
    *
    * Features: o_totalprice in 10k-wide bins, and the order's
    * lineitem count (1..7) via the orderkey equi-join both tables are
    * bucketed by at 100 TB. Split semantics: left = bin ≤ threshold;
    * the top boundary (empty right side) is excluded.
    *
    * Determinism: cum sums are exact longs off a pinned (feature, bin)
    * window order; each candidate's gain is ONE IEEE expression over
    * those longs, 6dp-rounded to micros; argmax ties break on the
    * smaller threshold. */
  /** `ml24_cv_stump` — 5-fold cross-validation of the [[ml21Stump]]
    * classifier via the LEAVE-ONE-FOLD-OUT SUFFICIENT-STATISTICS
    * trick: one pass builds the (fold, feature, bin) histogram; each
    * fold's TRAINING histogram is then total−fold — pure k-row-frame
    * subtraction, so 5 folds cost one data scan, not five. Per fold:
    * the same gini-gain sweep as ml21 on the training cells, majority
    * leaf labels from the training side, and the held-out error rate
    * from joining the winning split back to the fold's own cells.
    * This is the face that says how OPTIMISTIC ml21's in-sample gain
    * is — the CV error is the number a modeling pipeline actually
    * reports.
    *
    * Determinism: the histogram cells are exact integer counts, the
    * sweep replays ml21's pinned windows per (fold, feature), leaf
    * majority is an integer comparison (ties → class 0), and the one
    * quantized divide per fold is the error rate. Fold assignment is
    * md5-derandomized per order key.
    *
    * Scale shape: one map-side-combinable (fold, feature, bin)
    * rollup; everything downstream runs on bins×folds cells — the
    * grid join, sweeps, and evals never touch data-sized frames
    * again. */
  def ml24CvStump(s: SparkSession, dir: String,
                  nFolds: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("label"),
        pmod(md5Base60(
          concat(lit("cv:"), col("o_orderkey"))), lit(nFolds.toLong))
          .as("fold"))
    val lc = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
    val feats = o
      .select(col("fold"), lit("totalprice_k10").as("feature"),
        floor(col("o_totalprice") / 10000).cast("long").as("bin"),
        col("label"))
      .unionByName(o
        .join(lc, col("o_orderkey") === col("l_orderkey"))
        .select(col("fold"), lit("linecount").as("feature"),
          col("n_lines").as("bin"), col("label")))
    val cells = feats.groupBy(col("fold"), col("feature"), col("bin"))
      .agg(count(lit(1)).as("n_c"), sum(col("label")).as("pos_c"))
      .localCheckpoint(true) // grid base + per-fold eval both read it
    val totals = cells.groupBy(col("feature"), col("bin"))
      .agg(sum(col("n_c")).as("n_t"), sum(col("pos_c")).as("pos_t"))
    // training histogram for fold f = totals − fold-f cells
    val folds = broadcast(
      cells.select(col("fold")).distinct().withColumnRenamed("fold", "f"))
    val train = totals.crossJoin(folds)
      .join(cells.select(col("fold").as("f"), col("feature"),
        col("bin"), col("n_c"), col("pos_c")),
        Seq("f", "feature", "bin"), "left")
      .select(col("f"), col("feature"), col("bin"),
        (col("n_t") - coalesce(col("n_c"), lit(0L))).as("n_b"),
        (col("pos_t") - coalesce(col("pos_c"), lit(0L))).as("pos_b"))
      .filter(col("n_b") > 0)
    val byFF = Window.partitionBy(col("f"), col("feature"))
    val sweep = byFF.orderBy(col("bin").asc)
    val binned = train
      .withColumn("n_l", sum(col("n_b")).over(sweep))
      .withColumn("pos_l", sum(col("pos_b")).over(sweep))
      .withColumn("n", sum(col("n_b")).over(byFF))
      .withColumn("pos", sum(col("pos_b")).over(byFF))
      .filter(col("n_l") < col("n"))
    def gini(p: Column, n: Column): Column =
      lit(1.0) - (p.cast("double") / n.cast("double")) *
        (p.cast("double") / n.cast("double")) -
        ((n - p).cast("double") / n.cast("double")) *
        ((n - p).cast("double") / n.cast("double"))
    val nR = col("n") - col("n_l")
    val posR = col("pos") - col("pos_l")
    val scored = binned.select(col("f"), col("feature"), col("bin"),
      col("n_l"), col("pos_l"), nR.as("n_r"), posR.as("pos_r"),
      round(lit(1e6) * (gini(col("pos"), col("n")) -
        (col("n_l").cast("double") / col("n").cast("double")) *
          gini(col("pos_l"), col("n_l")) -
        (nR.cast("double") / col("n").cast("double")) *
          gini(posR, nR))).cast("long").as("gain_micros"))
    val best = scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("f"))
        .orderBy(col("gain_micros").desc, col("feature").asc,
          col("bin").asc)))
      .filter(col("rn") === 1)
      .select(col("f"), col("feature"), col("bin").as("thr"),
        // majority leaf labels from the TRAINING side, ties → 0
        (col("pos_l") * 2 > col("n_l")).cast("long").as("pred_l"),
        (col("pos_r") * 2 > col("n_r")).cast("long").as("pred_r"),
        col("gain_micros"))
    val bestA = best.select(col("f"), col("feature").as("bfeat"),
      col("thr"), col("pred_l"), col("pred_r"), col("gain_micros"))
    cells
      .join(broadcast(bestA),
        col("fold") === col("f") && col("feature") === col("bfeat"))
      .select(col("f"), col("bfeat"), col("thr"), col("gain_micros"),
        col("n_c"),
        when(col("bin") <= col("thr"),
          when(col("pred_l") === 1L, col("n_c") - col("pos_c"))
            .otherwise(col("pos_c")))
          .otherwise(
            when(col("pred_r") === 1L, col("n_c") - col("pos_c"))
              .otherwise(col("pos_c"))).as("err"))
      .groupBy(col("f").as("fold"), col("bfeat").as("feature"),
        col("thr").as("threshold_bin"), col("gain_micros"))
      .agg(sum(col("n_c")).as("n_test"), sum(col("err")).as("n_err"))
      .select(col("fold"), col("feature"), col("threshold_bin"),
        col("gain_micros"), col("n_test"), col("n_err"),
        round(lit(1e6) * col("n_err").cast("double") /
          col("n_test").cast("double")).cast("long").as("err_micros"))
  }

  def ml21Stump(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("label"))
    val lc = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
    val feats = o
      .select(lit("totalprice_k10").as("feature"),
        floor(col("o_totalprice") / 10000).cast("long").as("bin"),
        col("label"))
      .unionByName(o
        .join(lc, col("o_orderkey") === col("l_orderkey"))
        .select(lit("linecount").as("feature"),
          col("n_lines").as("bin"), col("label")))
    val byFeat = Window.partitionBy(col("feature"))
    val sweep = Window.partitionBy(col("feature"))
      .orderBy(col("bin").asc)
    val binned = feats.groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("label")).as("pos_b"))
      .withColumn("n_l", sum(col("n_b")).over(sweep))
      .withColumn("pos_l", sum(col("pos_b")).over(sweep))
      .withColumn("n", sum(col("n_b")).over(byFeat))
      .withColumn("pos", sum(col("pos_b")).over(byFeat))
      .filter(col("n_l") < col("n")) // top boundary: empty right side
    def gini(p: Column, n: Column): Column =
      lit(1.0) - (p.cast("double") / n.cast("double")) *
        (p.cast("double") / n.cast("double")) -
        ((n - p).cast("double") / n.cast("double")) *
        ((n - p).cast("double") / n.cast("double"))
    val nR = col("n") - col("n_l")
    val posR = col("pos") - col("pos_l")
    val scored = binned.select(col("feature"), col("bin"),
      col("n_l"), nR.as("n_r"),
      round(lit(1e6) * (gini(col("pos"), col("n")) -
        (col("n_l").cast("double") / col("n").cast("double")) *
          gini(col("pos_l"), col("n_l")) -
        (nR.cast("double") / col("n").cast("double")) *
          gini(posR, nR))).cast("long").as("gain_micros"))
    scored
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("feature"))
        .orderBy(col("gain_micros").desc, col("bin").asc)))
      .filter(col("rn") === 1)
      .select(col("feature"), col("bin").as("threshold_bin"),
        col("n_l").as("n_left"), col("n_r").as("n_right"),
        col("gain_micros"))
  }

  /** `ml22_gbdt_round` — two rounds of gradient boosting with
    * squared loss and depth-1 trees (Friedman 2001; [[ml21Stump]] is
    * the base learner, this is the ensemble loop): start from the
    * constant model F₀ = ȳ, fit a stump to the RESIDUALS on feature
    * 1, shrink its leaf values by ν = 0.5, update the residuals, fit
    * a second stump on feature 2, and report the training-MSE
    * trajectory — which must strictly decrease or the boosting
    * arithmetic is wrong. For squared loss the residual fit maximizes
    * Σ_side S²/n (variance reduction), swept over histogram-bin
    * boundaries exactly like ml21.
    *
    * Scale/determinism: residuals live in EXACT micro-units
    * (r₁ = y·1e6 − F₀-micros — integral because F₀ is quantized
    * once), so every sweep statistic is an exact integer cum-sum off
    * a pinned bin order; split scores are single IEEE expressions
    * over those longs (compared as doubles — identical in both
    * engines, ties broken bin-asc); each round's model is a 1-ROW
    * collect (threshold + two shrunk leaf micros) re-shipped as
    * literals — the kmeansLloyd discipline. The squared-residual mass
    * accumulates in DECIMAL(38,0) so no row count overflows it. */
  def ml22GbdtRound(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val lc = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("bin2"))
    val base = Tables.orders(s, dir)
      .join(lc, col("o_orderkey") === col("l_orderkey"))
      .select(floor(col("o_totalprice") / 10000).cast("long").as("bin1"),
        col("bin2"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("y"))
      .localCheckpoint(true) // feeds 2 sweeps + 3 MSE folds
    val st = base.agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .select(col("n"), round(lit(1e6) * col("p").cast("double") /
        col("n").cast("double")).cast("long").as("f0"))
      .collect()(0) // 1-row model collect
    val (n, f0) = (st.getLong(0), st.getLong(1))
    // fit one stump to the residual column over `binCol` bins: returns
    // (threshold, shrunk left leaf micros, shrunk right leaf micros)
    def fitStump(frame: DataFrame, binCol: String,
                 resCol: String): (Long, Long, Long) = {
      val all = Window.partitionBy(lit(1))
      val sweep = all.orderBy(col(binCol).asc)
      val sL = col("s_l").cast("double")
      val sR = (col("s") - col("s_l")).cast("double")
      val nL = col("n_l").cast("double")
      val nR = (col("n") - col("n_l")).cast("double")
      val best = frame.groupBy(col(binCol))
        .agg(count(lit(1)).as("n_b"), sum(col(resCol)).as("s_b"))
        .withColumn("n_l", sum(col("n_b")).over(sweep))
        .withColumn("s_l", sum(col("s_b")).over(sweep))
        .withColumn("n", sum(col("n_b")).over(all))
        .withColumn("s", sum(col("s_b")).over(all))
        .filter(col("n_l") < col("n"))
        .select(col(binCol),
          (sL * sL / nL + sR * sR / nR).as("score"),
          round(lit(0.5) * sL / nL).cast("long").as("lv_l"),
          round(lit(0.5) * sR / nR).cast("long").as("lv_r"))
        .orderBy(col("score").desc, col(binCol).asc)
        .limit(1).collect()(0) // 1-row model collect
      (best.getLong(0), best.getLong(2), best.getLong(3))
    }
    def mse(resCol: String): Column =
      (sum((col(resCol) * col(resCol)).cast(DecimalType(38, 0)))
        .cast("double") / lit(n).cast("double"))
    val r1 = base.withColumn("r1", col("y") * 1000000L - lit(f0))
    val (t1, lv1l, lv1r) = fitStump(r1, "bin1", "r1")
    val r2 = r1.withColumn("r2", col("r1") -
      when(col("bin1") <= t1, lv1l).otherwise(lv1r))
      .localCheckpoint(true) // feeds stage-2 sweep + 2 MSE folds
    val (t2, lv2l, lv2r) = fitStump(r2, "bin2", "r2")
    val r3 = r2.withColumn("r3", col("r2") -
      when(col("bin2") <= t2, lv2l).otherwise(lv2r))
    r3.agg(
        round(mse("r1")).cast("long").as("m0"),
        round(mse("r2")).cast("long").as("m1"),
        round(mse("r3")).cast("long").as("m2"))
      .select(explode(array(
        struct(lit(0L).as("step"), lit("const_f0").as("feature"),
          lit(-1L).as("threshold_bin"), lit(f0).as("left_value_micros"),
          lit(f0).as("right_value_micros"), col("m0").as("mse_micro2")),
        struct(lit(1L).as("step"), lit("totalprice_k10").as("feature"),
          lit(t1).as("threshold_bin"), lit(lv1l).as("left_value_micros"),
          lit(lv1r).as("right_value_micros"), col("m1").as("mse_micro2")),
        struct(lit(2L).as("step"), lit("linecount").as("feature"),
          lit(t2).as("threshold_bin"), lit(lv2l).as("left_value_micros"),
          lit(lv2r).as("right_value_micros"), col("m2").as("mse_micro2"))
        )).as("r"))
      .select(col("r.step").as("step"), col("r.feature").as("feature"),
        col("r.threshold_bin").as("threshold_bin"),
        col("r.left_value_micros").as("left_value_micros"),
        col("r.right_value_micros").as("right_value_micros"),
        col("r.mse_micro2").as("mse_micro2"))
  }

  /** `ml25_ridge` — closed-form ridge regression (Tikhonov /
    * Hoerl-Kennard) of the embedding label on the first two embedding
    * dimensions: beside [[linearGd]]'s iterative trajectory, this is
    * the NORMAL-EQUATIONS path — (XᵀX + λI)β = Xᵀy solved exactly by
    * 2×2 Cramer on CENTERED second moments (centering absorbs the
    * intercept, which is then recovered as β₀ = ȳ − β₁x̄₁ − β₂x̄₂).
    * λ = n·10⁹ micros² (10⁻³ per row in unit² scale), so the
    * regularization strength is SF-invariant by construction.
    *
    * Determinism: ONE pass of exact integer sufficient statistics
    * (n, Σx, Σy as longs; all five cross-moments in DECIMAL(38,0) —
    * the ev27 convention, overflow-proof at any SF), then the
    * centered moments / determinant / coefficients as doubles whose
    * every input is an exactly-cast integer and whose expression tree
    * is written identically in both engines (the cuped device);
    * coefficients quantize to micros only at the end. Scale shape:
    * one map-side-combined aggregation to a single 9-field row —
    * nothing else touches the corpus, the textbook "sufficient
    * statistics beat the data" shape a 100 TB regression needs. */
  def ml25Ridge(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.embeddings(s, dir)
      .select(
        round(lit(1e6) * element_at(col("embedding"), 1).cast("double"))
          .cast("long").as("x1"),
        round(lit(1e6) * element_at(col("embedding"), 2).cast("double"))
          .cast("long").as("x2"),
        (col("label").cast("long") * 1000000L).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
        sum(col("y")).as("sy"),
        sum((col("x1") * col("x1")).cast("decimal(38,0)")).as("s11"),
        sum((col("x2") * col("x2")).cast("decimal(38,0)")).as("s22"),
        sum((col("x1") * col("x2")).cast("decimal(38,0)")).as("s12"),
        sum((col("x1") * col("y")).cast("decimal(38,0)")).as("s1y"),
        sum((col("x2") * col("y")).cast("decimal(38,0)")).as("s2y"))
    val nD = col("n").cast("double")
    def ctr(sab: String, sa: String, sb: String): Column =
      col(sab).cast("double") -
        col(sa).cast("double") * col(sb).cast("double") / nD
    val withM = m.select(col("n"), col("sx1"), col("sx2"), col("sy"),
      ctr("s11", "sx1", "sx1").as("c11"),
      ctr("s22", "sx2", "sx2").as("c22"),
      ctr("s12", "sx1", "sx2").as("c12"),
      ctr("s1y", "sx1", "sy").as("c1y"),
      ctr("s2y", "sx2", "sy").as("c2y"),
      (nD * lit(1e9)).as("lam"))
    val det = (col("c11") + col("lam")) * (col("c22") + col("lam")) -
      col("c12") * col("c12")
    val b1 = (col("c1y") * (col("c22") + col("lam")) -
      col("c12") * col("c2y")) / det
    val b2 = ((col("c11") + col("lam")) * col("c2y") -
      col("c12") * col("c1y")) / det
    withM
      .select(col("n"), b1.as("b1"), b2.as("b2"),
        (col("sy").cast("double") / nD -
          b1 * (col("sx1").cast("double") / nD) -
          b2 * (col("sx2").cast("double") / nD)).as("b0"))
      .select(col("n"),
        round(lit(1e6) * col("b1")).cast("long").as("coef1_micros"),
        round(lit(1e6) * col("b2")).cast("long").as("coef2_micros"),
        round(col("b0")).cast("long").as("intercept_micros"))
  }

  /** `ml26_lda` — Fisher's linear discriminant in closed form on the
    * first two embedding dimensions (micro-quantized like
    * [[ml25Ridge]]) against the parity label: w = S_w⁻¹(μ₁ − μ₀)
    * with the 2×2 within-class scatter inverted by Cramer, plus the
    * Fisher criterion J = dᵀS_w⁻¹d — the separation the direction
    * actually achieves. The supervised twin of ml8's PCA power
    * iteration: same sufficient-statistics discipline, label-aware
    * axis. Every class moment is an exact integer (DECIMAL(38,0)
    * cross-products); the matrix solve is ONE double expression tree
    * mirrored in the oracle; outputs micro-quantized.
    *
    * Scale shape: one narrow scan folding 11 conditional power sums
    * map-side into a single row — no shuffle wider than the partials,
    * no window, no join; embarrassingly scalable. */
  def ml26Lda(s: SparkSession, dir: String): DataFrame = {
    def cls(c: Column, v: Int): Column = when(col("y") === v, c)
      .otherwise(lit(0L))
    val m = Tables.embeddings(s, dir)
      .select(
        round(lit(1e6) * element_at(col("embedding"), 1).cast("double"))
          .cast("long").as("x1"),
        round(lit(1e6) * element_at(col("embedding"), 2).cast("double"))
          .cast("long").as("x2"),
        (col("label") % 2).cast("long").as("y"))
      .agg(
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
        sum(cls(col("x1"), 0)).as("a1"), sum(cls(col("x2"), 0)).as("a2"),
        sum(cls(col("x1"), 1)).as("b1"), sum(cls(col("x2"), 1)).as("b2"),
        sum((col("x1") * col("x1")).cast("decimal(38,0)")).as("s11"),
        sum((col("x2") * col("x2")).cast("decimal(38,0)")).as("s22"),
        sum((col("x1") * col("x2")).cast("decimal(38,0)")).as("s12"))
    // within-class scatter = total cross-products minus BOTH class
    // mean corrections: Sw_ab = Σxaxb − (A_a·A_b/n0 + B_a·B_b/n1)
    val (n0, n1) = (col("n0").cast("double"), col("n1").cast("double"))
    def sw(tot: String, a: Column, b: Column,
           a1c: Column, b1c: Column): Column =
      col(tot).cast("double") -
        (a.cast("double") * b.cast("double") / n0 +
          a1c.cast("double") * b1c.cast("double") / n1)
    val w11 = sw("s11", col("a1"), col("a1"), col("b1"), col("b1"))
    val w22 = sw("s22", col("a2"), col("a2"), col("b2"), col("b2"))
    val w12 = sw("s12", col("a1"), col("a2"), col("b1"), col("b2"))
    val d1 = col("b1").cast("double") / n1 - col("a1").cast("double") / n0
    val d2 = col("b2").cast("double") / n1 - col("a2").cast("double") / n0
    val det = w11 * w22 - w12 * w12
    val wv1 = (w22 * d1 - w12 * d2) / det
    val wv2 = (w11 * d2 - w12 * d1) / det
    m.select(col("n0"), col("n1"),
      round(lit(1e12) * wv1).cast("long").as("w1_pico"),
      round(lit(1e12) * wv2).cast("long").as("w2_pico"),
      round(lit(1e6) * (wv1 * d1 + wv2 * d2)).cast("long")
        .as("j_micros"))
  }

  /** `ml27_silhouette` — simplified (centroid-based) silhouette per
    * label cluster: a(i) = distance to the own-label centroid,
    * b(i) = min distance to any other label's centroid,
    * s(i) = (b − a)/max(a, b). The clustering-quality eval the
    * sim_kmeans family reports cost for but never validates — and
    * the centroid form is THE silhouette that survives 100 TB: the
    * classic all-pairs form is O(n²), this is one centroid model
    * (labels × dims) against one linear scan.
    *
    * Determinism: vectors and centroids are exact integer micros
    * (centroid = round of one IEEE divide of exact sums), so both
    * squared distances are exact longs; s(i) takes two sqrt's and one
    * divide, micro-quantized PER POINT before the integer sum (the
    * house float-sum rule); the per-label mean is one rounded divide
    * of exact integers.
    *
    * Scale shape: melt to (vec, dim) longs → one (label, dim)
    * map-side-combined agg builds the ≤ labels×64-row centroid model
    * → broadcast-join back twice (own + cross), fold per (vec,
    * label), min per vec, one labels-sized rollup. No window, no
    * driver round-trips. */
  def ml27Silhouette(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("label"),
        col("pos").cast("long").as("dim"),
        round(col("col") * 1e6).cast("long").as("x"))
    val cent = pts.groupBy(col("label"), col("dim"))
      .agg(round(sum(col("x")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("c"))
    val d2 = pts.join(broadcast(cent.withColumnRenamed("label", "clabel")),
        Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("dd"))
    val ab = d2.groupBy(col("vec_id"), col("label"))
      .agg(sum(when(col("clabel") === col("label"), col("dd")))
          .as("a2"),
        min(when(col("clabel") =!= col("label"), col("dd"))).as("b2"))
    val sPt = ab.select(col("label"),
      round(lit(1e6) * (sqrt(col("b2").cast("double")) -
        sqrt(col("a2").cast("double"))) /
        greatest(sqrt(col("a2").cast("double")),
          sqrt(col("b2").cast("double")))).cast("long").as("s_micros"))
    sPt.groupBy(col("label"))
      .agg(count(lit(1)).as("n_pts"), sum(col("s_micros")).as("s_sum"))
      .select(col("label"), col("n_pts"),
        round(col("s_sum").cast("double") / col("n_pts").cast("double"))
          .cast("long").as("mean_s_micros"))
  }

  /** The fixed WordPiece vocabulary shared by [[tok10WordPiece]] and
    * its oracle builder (single chars are implicit — every position
    * can always consume one char, the [UNK]-free long-tail rule). */
  // single source of truth lives beside the native kernel; these
  // aliases keep the operator/oracle/spec call sites stable
  val wpTri: Seq[String] = graft.functions.UnigramVocab.tri
  val wpBi: Seq[String] = graft.functions.UnigramVocab.bi

  /** `tok10_wordpiece` — greedy longest-match WordPiece encoding (the
    * BERT tokenizer's serving algorithm) against a FIXED literal
    * vocabulary of tri/bi-grams + implicit single chars: each word is
    * segmented by the native codegen'd `wordpiece_segment` kernel
    * ([[graft.functions.WordPieceImpl.segment]]) — one O(len) pass; at
    * each unconsumed position try the 3-gram, then the 2-gram, else
    * emit the char — zero UDFs, zero shuffles until the token rollup.
    * (The interpreted HOF `aggregate` fold this replaced allocated a
    * struct accumulator per position — the shape that cost tok11 27.9s
    * before ITS kernel.) The greedy-matching counterpart of the learned BPE
    * family (tok1–tok7): BPE *trains* merges; WordPiece *serves* a
    * vocabulary, and this face measures what a fixed vocab does to
    * fertility on this corpus. Reports the top-10 tokens by count and
    * corpus totals (words, tokens, fertility in integer micros).
    *
    * Scale shape: one scan → per-word fold (bounded by word length) →
    * one (token) map-side-combined count + a broadcast totals cross —
    * the text_tokens plan with a smarter per-row kernel. */
  def tok10WordPiece(s: SparkSession, dir: String, topK: Int = 10)
      : DataFrame = {
    // segment DISTINCT words, multiplicities ride along — the word
    // domain is vocabulary-bounded while the corpus is not, so the
    // per-word kernel runs |vocab| times, never |corpus|
    val words = Tables.documents(s, dir)
      .select(explode(split(regexp_replace(lower(col("text")),
        "[^a-z]+", " "), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("m"))
    val toks = words.select(col("m"),
        split(wordpieceSegment(col("word")), " ")
          .as("toks"))
      .select(col("m"), size(col("toks")).cast("long").as("n_tok"),
        col("toks"))
    val totals = broadcast(toks.agg(sum(col("m")).as("n_words"),
      sum(col("m") * col("n_tok")).as("n_tokens")))
    toks.select(col("m"), explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(sum(col("m")).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(topK)
      .crossJoin(totals)
      .select(col("token"), col("n"), col("n_words"), col("n_tokens"),
        expr("(1000000 * n) DIV n_tokens").as("share_micros"),
        expr("(1000000 * n_tokens) DIV n_words").as("fertility_micros"))
  }

  /** Unigram piece log-probabilities in integer micros (ln p scaled by
    * 1e6, negative): single chars always available, the tok10 bi/tri
    * vocabularies as longer pieces. The spread makes longer pieces win
    * when present (tri −5.5 < 3 chars −9.0) while keeping genuine
    * Viterbi-vs-greedy divergences (e.g. "ther": the+r = t+her = −8.5,
    * the longer-last-piece tie-break picks t+her where tok10's greedy
    * longest-match takes the+r). */
  val ugCharMicros: Long = graft.functions.UnigramVocab.charMicros
  val ugBiMicros: Long = graft.functions.UnigramVocab.biMicros
  val ugTriMicros: Long = graft.functions.UnigramVocab.triMicros

  /** Max word length the unigram DP segments — longer words are
    * excluded from the rollup in BOTH engines (the fixed unroll depth
    * of the oracle's chained-CTE DP). */
  val ugMaxLen: Int = 16

  /** `tok11_unigram` — unigram-LM (SentencePiece) serving segmentation:
    * each word takes the GLOBALLY most likely piece decomposition by
    * Viterbi max-sum DP over the fixed scored vocabulary, not tok10's
    * greedy longest-match — the defining difference of the third
    * tokenizer family (BPE trains merges, WordPiece serves greedily,
    * unigram decodes a per-word global optimum). The DP runs in the
    * native codegen'd `unigram_segment` kernel
    * ([[graft.functions.UnigramImpl.segment]]) — one O(len) pass with
    * two scalar arrays per DISTINCT word; candidates are
    * char/bigram/trigram endings, max by (score, length). The word
    * score reconstructs exactly from the returned piece lengths (a
    * len-k piece carries the k-gram score by construction). Reports
    * tok10's shape (top-K pieces, totals, fertility) plus the corpus
    * log-likelihood `ll_micros` = Σ m·score(word), the quantity
    * unigram training optimizes.
    *
    * Scale shape: identical to tok10 — one native kernel call per
    * DISTINCT word bounded by [[ugMaxLen]], one map-side-combined
    * piece rollup, broadcast totals; the corpus is scanned once. */
  def tok11Unigram(s: SparkSession, dir: String, topK: Int = 10)
      : DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(regexp_replace(lower(col("text")),
        "[^a-z]+", " "), " ")).as("word"))
      .filter(length(col("word")) > 0 &&
        length(col("word")) <= ugMaxLen)
      .groupBy(col("word")).agg(count(lit(1)).as("m"))
    val pieceScore = (t: Column) =>
      when(length(t) === 1, ugCharMicros)
        .when(length(t) === 2, ugBiMicros)
        .otherwise(ugTriMicros)
    val toks = words
      .select(col("m"),
        split(unigramSegment(col("word")), " ")
          .as("toks"))
      .select(col("m"),
        aggregate(col("toks"), lit(0L), (acc, t) => acc + pieceScore(t))
          .as("score"),
        size(col("toks")).cast("long").as("n_tok"), col("toks"))
    val totals = broadcast(toks.agg(sum(col("m")).as("n_words"),
      sum(col("m") * col("n_tok")).as("n_tokens"),
      sum(col("m") * col("score")).as("ll_micros")))
    toks.select(col("m"), explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(sum(col("m")).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(topK)
      .crossJoin(totals)
      .select(col("token"), col("n"), col("n_words"), col("n_tokens"),
        expr("(1000000 * n) DIV n_tokens").as("share_micros"),
        expr("(1000000 * n_tokens) DIV n_words").as("fertility_micros"),
        col("ll_micros"))
  }
}
