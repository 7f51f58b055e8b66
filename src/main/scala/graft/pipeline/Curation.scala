package graft.pipeline

import scala.util.chaining._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sample.Sampling
import graft.text.TextAnalysis

/** The end-to-end training-corpus curation pipeline — the composition the
  * engine exists for, in ONE declarative plan:
  *
  *   quality gate → repetition gate → language gate → exact-dedup
  *   survivors → benchmark decontamination → temperature-0.5 mixture
  *   rebalancing → token-budget sequence packing.
  *
  * Shuffle inventory at 100 TB (everything else is map-side):
  *   1. the dedup window on the content fingerprint (unavoidable — it IS
  *      the dedup);
  *   2. the decontamination hit aggregation (hits only; the benchmark
  *      n-gram index is broadcast);
  *   3. the tiny per-language count aggregate for mixture rates
  *      (broadcast back);
  *   4. the per-shard packing window (shard-parallel by design).
  *
  * Every stage is engine-reproducible (md5-derived hashes, sqrt rates,
  * decimal-rounded ratios), so the WHOLE pipeline hash-matches its DuckDB
  * oracle — the property that lets a team re-run curation anywhere and
  * trust the resulting corpus is the same corpus.
  */
object Curation {

  /** The map-side gate stage alone — a pure projection + filter, so it
    * runs unchanged over a STREAM of arriving documents (no watermark
    * needed; [[StreamingCuration]] composes it with the per-trigger
    * dedup/decontamination merge, and StreamingSpec's streaming-curation
    * test lands gated docs through the bucketed upsert sink).
    *
    * Threshold interaction to know when tuning: `top_bigram_frac` of an
    * n-token doc is at least 1/(n−1) (some bigram occurs once among
    * n−1), so at the default `maxTopBigramFrac = 0.1` every doc of
    * ≤ 11 tokens is rejected by the BIGRAM gate regardless of
    * `minTokens` — the effective token floor is
    * max(minTokens, ⌈1/maxTopBigramFrac⌉ + 1). Both knobs are corpus
    * policy; the floors compose rather than override each other.
    */
  def gates(
      docs: DataFrame,
      isBenchmark: Column,
      minTokens: Long = 10,
      maxStopwordRatio: Double = 0.5,
      maxTopBigramFrac: Double = 0.1): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val st = element_at(col("st"), _: Int)
    val rp = element_at(col("rp"), _: Int)
    docs
      .withColumn("st", graft.functions.VecText.text_stats(toks))
      .withColumn("rp", graft.functions.VecText.repetition_stats(toks))
      .withColumn("n_tokens", st(1))
      // guarded: ANSI double /0 throws — zero-token docs get NULL and
      // fail the gate instead of killing the job (matches DuckDB's /0)
      .withColumn("stopword_ratio",
        when(st(1) > 0, st(2).cast("double") / st(1).cast("double"))
          .cast("decimal(18,6)"))
      .withColumn("top_bigram_frac",
        when(rp(3) > 0, (rp(4).cast("double") / rp(3).cast("double"))
          .cast("decimal(18,6)")).otherwise(lit(0).cast("decimal(18,6)")))
      .withColumn("lang_pred", TextAnalysis.langIdFromStats(col("st")))
      .filter(col("n_tokens") >= minTokens
        && col("stopword_ratio") <= maxStopwordRatio
        && col("top_bigram_frac") <= maxTopBigramFrac
        && col("lang_pred") =!= "und"
        && !isBenchmark)
      .drop("st", "rp")
  }

  /** @param extraGate an additional row-local gate stage applied after
    *                   the heuristic gates — the seam a TRAINED model
    *                   plugs into ([[TextAnalysis.frozenClassifierGate]]);
    *                   must be a pure projection + filter so the
    *                   streamed twin stays batch-equal (identity by
    *                   default).
    */
  def curate(
      docs: DataFrame,
      isBenchmark: Column,
      minTokens: Long = 10,
      maxStopwordRatio: Double = 0.5,
      maxTopBigramFrac: Double = 0.1,
      minShared: Long = 3,
      budget: Long = 2048L,
      extraGate: DataFrame => DataFrame = identity): DataFrame = {
    // Scans.spread under the gate kernels: tried and REJECTED (round-20
    // third pass). The one-row-group fixture runs the gate stats on one
    // task (~0.5 s job in tools.Profile), which looks like the minhash case —
    // but the kernel share of that job is only ~0.2 s (the rest is the
    // scan + exchange write itself), below the exchange's fixed cost:
    // min-of-8 warm reps measured 1.82 s without vs 2.44 s with the
    // spread. Same verdict as the simhash/blocked-jaccard sites — the
    // per-row stats kernels are single-pass hashing, not minhash/codec
    // class. At real scale the scan has splits >> cores anyway.
    val gated = extraGate(
      gates(docs, isBenchmark, minTokens, maxStopwordRatio, maxTopBigramFrac))
    // Materialize the dedup survivors ONCE: three branches consume them
    // (decontamination probe, mixture counts, the final anti-join side),
    // and because each branch prunes different columns their exchange
    // subtrees differ — Catalyst can't ReusedExchange them, so without
    // pinning, the scan + gate kernels + dedup window run three times.
    // The PRINCIPLE holds at 100 TB (materialize the survivor fraction
    // once vs three full corpus passes); the mechanism is the Staging
    // seam — default localCheckpoint for single-JVM, -Dgraft.staging=
    // persist|reliable on a cluster where executor loss must be
    // recoverable (see Staging's scaladoc for the trade). Values are
    // unchanged under every strategy (the pipeline is deterministic end
    // to end; StagingStrategySpec), so the DuckDB oracle hash is
    // unaffected.
    // the survivor rule IS the exact-dedup operator — one owner for the
    // fingerprint + tie-break policy, not a drifting inline copy
    val survivorsAll = graft.dedup.Dedup.exactSurvivors(gated)
      .pipe(graft.Staging.pin)
    val survivorsWithText = survivorsAll.select("doc_id", "text")
    val survivors = survivorsAll.select("doc_id", "source", "lang_pred",
      "n_tokens", "stopword_ratio", "top_bigram_frac")
    // benchmark-contaminated docs out (the flagged set is a vanishing
    // fraction → broadcast anti-join, no shuffle of the corpus side).
    // Probe only the SURVIVORS against the benchmark index: flags on
    // docs the gates already discarded cannot change the anti-join, and
    // skipping them removes a full-corpus shingle explode.
    val flagged = Dedup.decontaminateCorpus(
      survivorsWithText, docs.filter(isBenchmark), minShared).select("doc_id")
    val clean = survivors.join(broadcast(flagged), Seq("doc_id"), "left_anti")
    finalizeCorpus(clean, budget)
  }

  /** The global finalize stage shared by the batch pipeline and
    * [[StreamingCuration.corpusView]]: temperature-0.5 mixture rebalance +
    * token-budget packing over the clean survivors. Split out so the
    * streaming path is batch-equal BY CONSTRUCTION — both run this exact
    * plan over the same survivor relation (`doc_id, source, lang_pred,
    * n_tokens, stopword_ratio, top_bigram_frac`). Mixture rates and pack
    * offsets are global properties of the corpus, so this stage is a
    * deterministic function of the survivor SET, never of arrival order.
    */
  def finalizeCorpus(clean: DataFrame, budget: Long = 2048L): DataFrame = {
    val mixed = Sampling.mixtureSqrt(clean, col("lang_pred"), col("doc_id"))
    Sampling.packSequences(mixed, col("source"), col("doc_id"),
        col("n_tokens"), budget)
      .select(col("doc_id"), col("source"), col("lang_pred"), col("n_tokens"),
        col("stopword_ratio").cast("double").as("stopword_ratio"),
        col("top_bigram_frac").cast("double").as("top_bigram_frac"),
        col("sample_rate"), col("cum_before"), col("seq_idx"), col("seq_offset"))
  }
}
