package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Kernels._

/** The full training-data preprocessing pipeline, fused: quality
  * filter → PII redaction → exact dedup → stratified sample →
  * per-stratum accounting.
  *
  * Every per-document signal — the Gopher keep decision, the scrubbed-
  * content digest, the PII hit count, sample membership — is a COLUMN
  * expression (TextAnalysis.gopherKeep / redact / piiCount,
  * Sampling.bucket100), so the narrow part of the pipeline is one fused
  * projection entirely inside whole-stage codegen. The only shuffles
  * are the dedup's digest aggregation (16-byte keys, not text) and the
  * final per-lang rollup; the canonical set joins back as a broadcast.
  * The executed plan touches the corpus twice (the dedup branch
  * re-derives (digest, id) on the join's build side) — at 100 TB you
  * checkpoint `enriched` once and both consumers read the narrow
  * columnar intermediate instead of re-scanning text.
  */
object Preprocess {

  /** End-to-end over the (PII-augmented) corpus; returns per-lang
    * accounting of what survived each gate. */
  def pipeline(s: SparkSession, dir: String): DataFrame = {
    val rates = Map("en" -> 60, "de" -> 30, "zh" -> 10)
    val rate = rates.foldLeft(lit(20)) { case (acc, (lang, pct)) =>
      when(col("lang") === lang, lit(pct)).otherwise(acc)
    }
    val t = col("text")
    // one projection computes every per-document signal; the PII
    // counts + scrub digest come from ONE fused native scan
    val pii = piiScan(t)
    val enriched = Fixtures.withPii(Tables.documents(s, dir)).select(
      col("doc_id"), col("lang"),
      TextAnalysis.gopherKeep(t).as("keep"),
      md5(pii.getField("redacted").cast("binary")).as("redacted_hash"),
      (pii.getField("n_urls") + pii.getField("n_emails") +
        pii.getField("n_ips") + pii.getField("n_phones")).as("n_pii"),
      (Sampling.bucket100(col("doc_id")) < rate).cast("long").as("in_sample"))
    // exact dedup on the REDACTED content: smallest doc_id per content
    // group survives; only (digest, id) pairs reach the exchange
    val canonical = enriched
      .groupBy(col("redacted_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1L).as("is_canonical"))
    enriched
      .join(canonical, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_quality"),
        sum(col("n_pii")).cast("long").as("n_pii_hits"),
        sum(coalesce(col("is_canonical"), lit(0L))).cast("long")
          .as("n_canonical"),
        sum(when(col("keep") === 1 &&
            coalesce(col("is_canonical"), lit(0L)) === 1 &&
            col("in_sample") === 1, 1L).otherwise(0L))
          .cast("long").as("n_final"))
  }

  /** `pipe2_ccnet_funnel` — the CCNet/LLaMA-style pipeline ORDER as
    * one composed plan: quality gate → exact dedup among the quality
    * survivors → perplexity terciles over the deduped set, keeping
    * head+middle (Wenzek LREC'20 runs exactly this sequence; pipe1
    * composes the orthogonal PII/sampling half). Emits the per-lang
    * FUNNEL — the stage-by-stage survivor counts plus the final token
    * budget — which is the report a data-curation run signs off on.
    *
    * Composition notes: the quality signal is the native one-pass
    * `gopher_scan`; the dedup key is [[Dedup.normHash]] (canonical =
    * min doc_id per hash, computed among quality survivors — dedup
    * AFTER filtering, so a low-quality early copy cannot shadow a
    * clean later one); the LM gate scores survivors with the staged
    * corpus-trained KN model ([[TextAnalysis.knDocScoreIndexed]] —
    * CCNet's "train the LM offline, bucket online" split) and the
    * tercile split is [[Ranking]]'s scalable exact ntile over
    * (mean logprob desc, doc_id). ONE corpus text scan feeds the
    * quality+hash+token projection; everything downstream moves
    * digests, longs and the model join — no second text scan.
    *
    * Scale shape: narrow fused projection → digest-keyed aggregation →
    * model-join + range-rank (no single-partition stage) → per-lang
    * rollup. All counts exact longs; tokens_kept is the Σ token count
    * of the final set — the number a token-budget plan consumes. */
  def ccnetFunnel(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val enriched = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.gopherKeep(t).as("keep"),
        Dedup.normHash(t).as("norm_hash"),
        size(TextAnalysis.tokens(lower(t))).cast("long").as("n_tok"))
      .localCheckpoint(true) // one text scan; three consumers below
    val canon = enriched.filter(col("keep") === 1L)
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("canon_id"))
    val surv = enriched.filter(col("keep") === 1L)
      .join(canon, enriched("doc_id") === canon("canon_id"))
      .select(col("doc_id"), col("lang"), col("n_tok"))
    val scored = surv.join(
      TextAnalysis.knDocScoreIndexed(s, dir)
        .select(col("doc_id"), col("mean_kn_logprob")), "doc_id")
      // cut before ranking: the rank helper executes its input twice
      // (size probe + rank plan); the scored rollup is doc-level
      .localCheckpoint(true)
    val bucketed = Ranking.withGlobalRank(scored, "__rn", "__n",
        Seq(col("mean_kn_logprob").desc, col("doc_id").asc))
      .withColumn("bucket",
        Ranking.ntileOfRank(col("__rn"), col("__n"), 3))
    val kept = bucketed.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_dedup"),
        sum(when(col("bucket") <= 2L, 1L).otherwise(0L)).as("n_ppl_kept"),
        sum(when(col("bucket") <= 2L, col("n_tok")).otherwise(0L))
          .as("tokens_kept"))
    enriched.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_quality"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_quality"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_ppl_kept"), lit(0L)).as("n_ppl_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
  }
}
