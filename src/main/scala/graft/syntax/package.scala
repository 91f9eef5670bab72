package graft

import org.apache.spark.sql.DataFrame

import graft.operators._

/** Fluent facade over the operator library — `import graft.syntax._`
  * gives DataFrame extension methods so a pipeline reads as a chain:
  *
  * {{{
  * import graft.syntax._
  * docs.qualityFiltered()
  *     .segmentDeduped(segSize = 30)
  *     .quotaSampled("source", salt = "mix", quota = 1000)
  * }}}
  *
  * Every method DELEGATES to the same Column-level operator the declared
  * queries use — zero lambdas, zero extra plan nodes (spec-asserted), so
  * codegen and pushdown behave identically to the explicit calls. Column
  * names default to the reference schema (`doc_id`, `text`). */
package object syntax {

  implicit final class GraftCorpusOps(private val df: DataFrame) extends AnyVal {

    /** [[TextOps.dedupExact]]: one row per distinct text (min-id keeper). */
    def dedupedExact(id: String = "doc_id", text: String = "text"): DataFrame =
      TextOps.dedupExact(df, id, text)

    /** [[TextOps.segmentDedup]]: segment-level dedup + reassembly. */
    def segmentDeduped(segSize: Int, id: String = "doc_id",
        text: String = "text"): DataFrame =
      TextOps.segmentDedup(df, id, text, segSize)

    /** [[TextOps.qualityMetrics]] filtered to `quality_ok = 1`, original
      * columns preserved. */
    def qualityFiltered(id: String = "doc_id", text: String = "text",
        nChars: String = "n_chars"): DataFrame = {
      import org.apache.spark.sql.functions.col
      val ok = TextOps.qualityMetrics(df, id, text, nChars)
        .filter(col("quality_ok") === 1).select(id)
      df.join(ok, id)
    }

    /** [[Splits.quotaSample]]: rate-capped per-group quota. */
    def quotaSampled(group: String, salt: String, quota: Long,
        id: String = "doc_id"): DataFrame =
      Splits.quotaSample(df, id, group, salt, quota)

    /** [[Splits.temperatureSample]]: α=0.5 mixture resampling. */
    def temperatureSampled(group: String, salt: String, targetTotal: Long,
        id: String = "doc_id"): DataFrame =
      Splits.temperatureSample(df, id, group, salt, targetTotal)

    /** [[TextOps.vocabTopK]]: corpus heavy hitters. */
    def vocabTop(k: Int, id: String = "doc_id",
        text: String = "text"): DataFrame =
      TextOps.vocabTopK(df, id, text, k)

    /** [[Packing.packingStats]]: per-shard sequence-packing layout. */
    def packingLayout(salt: String, shards: Int, contextLen: Int,
        id: String = "doc_id", text: String = "text"): DataFrame =
      Packing.packingStats(df, id, text, salt, shards, contextLen)

    /** [[Sketches.minhashCandidates]]: banded LSH near-dup candidates. */
    def nearDupCandidates(k: Int, m: Int, bands: Int,
        id: String = "doc_id", text: String = "text"): DataFrame =
      Sketches.minhashCandidates(df, id, text, k, m, bands)

    /** [[Sketches.fingerprintPairs]]: winnowing near-dup pairs. */
    def fingerprintPairs(minShared: Int = 3, maxDocFreq: Int = 10,
        id: String = "doc_id", text: String = "text"): DataFrame =
      Sketches.fingerprintPairs(df, id, text,
        minShared = minShared, maxDocFreq = maxDocFreq)

    /** [[Temporal.funnelCounts]]: k-step first-touch funnel. */
    def funnel(steps: Seq[String], windowDays: Int = 7,
        user: String = "user_id", ts: String = "ts",
        tpe: String = "event_type"): DataFrame =
      Temporal.funnelCounts(df, user, ts, tpe, steps, windowDays)

    /** [[Temporal.retentionCohorts]]: weekly retention grid. */
    def retention(maxWeeks: Int = 8, user: String = "user_id",
        ts: String = "ts"): DataFrame =
      Temporal.retentionCohorts(df, user, ts, maxWeeks)

    /** [[Contrastive.minePairs]]: DPR-style training triplets. */
    def contrastivePairs(anchorFilter: org.apache.spark.sql.Column,
        vec: String = "embedding", id: String = "vec_id",
        metric: graft.functions.Metric = graft.functions.Metric.Cosine): DataFrame =
      Contrastive.minePairs(df, vec, id, metric, anchorFilter)

    /** [[Layout.zorderStats]]: Z-order layout + skipping stats. */
    def zorderLayout(colA: String, colB: String, buckets: Int = 16): DataFrame =
      Layout.zorderStats(df, colA, colB, buckets)

    /** [[Splits.reservoirSample]]: exact-N-per-group bottom-k panel. */
    def reservoirSampled(group: String, salt: String, n: Int,
        id: String = "doc_id"): DataFrame =
      Splits.reservoirSample(df, id, group, salt, n)

    /** [[TextOps.scrubFrequentSegments]]: df-threshold boilerplate cut. */
    def boilerplateScrubbed(segSize: Int, minDf: Int,
        id: String = "doc_id", text: String = "text"): DataFrame =
      TextOps.scrubFrequentSegments(df, id, text, segSize, minDf)

    /** [[TextOps.featureHash]]: hashed bag-of-words COO features. */
    def featureHashed(k: Int, id: String = "doc_id",
        text: String = "text"): DataFrame =
      TextOps.featureHash(df, id, text, k)

    /** [[TextOps.hashedLinearScore]]: hashed-BoW quality scores. */
    def qualityScored(k: Int, id: String = "doc_id",
        text: String = "text"): DataFrame =
      TextOps.hashedLinearScore(df, id, text, k)

    /** [[Temporal.groupTopK]]: per-group top-k rows by value. */
    def groupTop(group: String, value: String, tie: String, n: Int,
        largest: Boolean = true): DataFrame =
      Temporal.groupTopK(df, group, value, tie, n, largest)

    /** [[Budget.domainBudget]]: budget-capped priority-ordered take per
      * group (per-domain token caps). */
    def budgetCapped(groups: Seq[String], priority: String, weight: String,
        budget: Long, bucketWidth: Long = 1L << 16): DataFrame =
      Budget.domainBudget(df, groups, priority, weight, budget, bucketWidth)

    /** [[Budget.shardAssign]]: budget-driven contiguous output sharding
      * by global running weight. */
    def shardAssigned(order: String, weight: String, shardBudget: Long,
        bucketWidth: Long = 1L << 16): DataFrame =
      Budget.shardAssign(df, order, weight, shardBudget, bucketWidth)

    /** [[TextOps.bpeMergeCandidates]]: top-k BPE merge-pair counts. */
    def bpeMergeCandidates(k: Int, text: String = "text"): DataFrame =
      TextOps.bpeMergeCandidates(df, text, k)

    /** [[TextOps.pmiBigrams]]: top-k PMI collocations above a count
      * floor. */
    def pmiCollocations(minCount: Long, k: Int,
        text: String = "text"): DataFrame =
      TextOps.pmiBigrams(df, text, minCount, k)

    /** [[Curation.funnelReport]]: per-gate in/kept/dropped ledger. */
    def funnelReported(
        stages: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
      Curation.funnelReport(df, stages)

    /** [[Curation.perplexityBuckets]]: per-language head/middle/tail
      * LM-score terciles. */
    def perplexityBucketed(n: Int = 3, id: String = "doc_id",
        text: String = "text", lang: String = "lang"): DataFrame =
      Curation.perplexityBuckets(df, id, text, lang, n)

    /** [[Curation.dsirWeights]]: DSIR importance weights against a
      * target corpus. */
    def dsirWeighted(target: DataFrame, k: Int, id: String = "doc_id",
        text: String = "text"): DataFrame =
      Curation.dsirWeights(df, target, id, text, k)
  }
}
