package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression => e}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Typed Column constructors for graft's native expressions, one per
  * SQL name in [[GraftFunctions.builders]]. Each case class is built
  * here only: operators call these directly, so no session needs the
  * names registered, and the SQL builders delegate to them. */
object Kernels {
  def cosineSim(a: Column, b: Column): Column = column(CosineSimilarity(e(a), e(b)))
  def l2Sq(a: Column, b: Column): Column = column(L2Squared(e(a), e(b)))
  def planeSig(v: Column, planes: Column): Column =
    column(PlaneSignature(e(v), e(planes)))
  def simhash60(tokens: Column): Column = column(SimHash60(e(tokens)))
  def md5Base60(s: Column): Column = column(Md5Base60(e(s)))
  /** Even-odd ray-cast against the geo8 octagon (the declarative 8-edge
    * CASE tree blew HotSpot's JIT method limit inside the candidate
    * join's condition). */
  def octagonContains(px: Column, py: Column, cx: Column, cy: Column,
                      r: Column): Column =
    column(OctagonContains(e(px), e(py), e(cx), e(cy), e(r)))
  def minhashSig16(shingles: Column): Column = column(MinHashSig(e(shingles), 16))
  /** Bloom filter (binary) over a bigint column: Spark's runtime-filter
    * aggregate, which Spark itself does not expose as a function. */
  def bloomAgg(v: Column, estItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(e(v), Literal(estItems), Literal(numBits))
      .toAggregateExpression())
  def bloomMightContain(bloom: Column, v: Column): Column =
    column(BloomFilterMightContain(e(bloom), e(v)))
  /** Misra-Gries heavy hitters → map<string,bigint> of surviving
    * counters; `capacity` sizes every task's constant-memory buffer. */
  def mgTopk(s: Column, capacity: Int): Column =
    column(MisraGriesAgg(e(s), capacity).toAggregateExpression())
  /** Generator: one row per i<j<k triple of the sorted brand set. */
  def combo3Gen(brands: Column): Column = column(Combo3Generator(e(brands)))
  /** Generator: one row per n-token shingle, streamed. */
  def shingleGen(tk: Column, n: Int): Column = column(ShingleGenerator(e(tk), n))
  /** array<string> of positional space-joined n-grams, in one pass. */
  def tokenNgrams(tk: Column, n: Int, wholeShort: Boolean = true): Column =
    column(TokenNGrams(e(tk), n, wholeShort))
  /** Sliding-window minima over array<bigint> (winnowing selection). */
  def rollingMin(hs: Column, w: Int): Column = column(RollingMin(e(hs), w))
  /** Unigram-LM Viterbi segmentation of one word. */
  def unigramSegment(word: Column): Column = column(UnigramSegment(e(word)))
  /** Greedy longest-match WordPiece segmentation of one word. */
  def wordpieceSegment(word: Column): Column = column(WordPieceSegment(e(word)))
  /** array<int> of 1-based end positions whose trailing 8-char window
    * hash ≡ 0 mod `mod` (content-defined chunking). */
  def cdcBoundaries(text: Column, mod: Int): Column =
    column(CdcBoundaries(e(text), mod))
  /** Per-frame PCM energies → array<bigint>. */
  def frameEnergies(payload: Column, flen: Int): Column =
    column(FrameEnergies(e(payload), flen))
  /** Hilbert-curve key on the 16-bit grid. */
  def hilbertKey(x: Column, y: Column): Column = column(HilbertKey(e(x), e(y)))
  /** Fused PII battery → struct(n_urls, n_emails, n_ips, n_phones,
    * redacted), match-for-match with the 4-pass sequential scrub. */
  def piiScan(text: Column): Column = column(PiiScan(e(text)))
  /** Gopher quality integer stats → struct(n_words, sum_len, n_alpha,
    * n_stop); ratios and rounding stay in Catalyst. */
  def gopherScan(text: Column): Column = column(GopherScan(e(text)))
  /** 26-letter histogram of the lowercased text → array<bigint>(26). */
  def letterCounts(text: Column): Column = column(LetterCounts(e(text)))
}
