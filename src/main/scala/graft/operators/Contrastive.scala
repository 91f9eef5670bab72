package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Metric

/** Contrastive training-pair mining — the op that turns a corpus with
  * embeddings into (anchor, positive, negative) triplets for training
  * embedding / retrieval models (the DPR recipe, Karpukhin et al.
  * 2020 §3.2): the positive is the anchor's nearest neighbor, HARD
  * negatives come from the retrieval ranks just past the positives
  * (similar enough to teach the margin), and RANDOM negatives are
  * hash-sampled from the whole corpus (cheap contrast).
  *
  * Scale shape: the knn stage is [[VectorSearch.knnJoin]]'s partial
  * top-k (≤ hardEnd rows per anchor cross the exchange); random
  * negatives are a per-row `explode(j)` projection with NO shuffle and
  * NO join — ids come from hash-mod arithmetic, so sampling 100 TB of
  * anchors never touches the corpus again. Anchors are a pushed-down
  * id filter. Everything is md5 arithmetic → SQL-oracle replayable. */
object Contrastive {

  /** Mine pairs for every anchor passing `anchorFilter`:
    * `(anchor_id, other_id, pair_type, pair_rank)` where `pair_type` ∈
    * {'positive', 'hard_negative', 'random_negative'}.
    *
    * Positives: retrieval ranks 1..`nPos`. Hard negatives: ranks
    * `hardStart..hardStart+nHard-1` (a gap between the two regions —
    * ranks nPos+1..hardStart-1 — avoids mislabeling borderline
    * near-duplicates as negatives). Random negatives: for
    * j ∈ 1..nRandom, id = md5-hash(anchor:j) mod `corpusN`, with the
    * rare self/positive collisions FILTERED (up-to-k semantics, the
    * standard non-iterative rule; ids must be dense 0..N−1, which the
    * embeddings table guarantees). */
  def minePairs(
      emb: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      anchorFilter: Column,
      nPos: Int = 1,
      hardStart: Int = 6,
      nHard: Int = 5,
      nRandom: Int = 5,
      broadcastAnchors: Boolean = false): DataFrame = {
    val anchors = emb.filter(anchorFilter)
    // broadcastAnchors: the recall rows' sample×corpus orientation —
    // the bounded anchor set is collected when this is called and
    // broadcast, and the corpus is scanned + metric-prepared once, each
    // partition keeping a k-bounded heap per anchor (no pair rows),
    // instead of the default CartesianProduct re-evaluating the corpus
    // subtree once per anchor partition and ranking every pair. Pass
    // true when the anchor set is a bounded SAMPLE (the scaled rows'
    // fixed ~1000–2000 anchors); leave false when anchors are a large
    // corpus fraction (the fixture's every-10th rule) — a collected
    // side must stay driver/executor-memory bounded. Results are
    // orientation-independent: both forms rank with the same window
    // over the same scores.
    // localCheckpoint: the ranked frame feeds FOUR consumers (positives,
    // hard, the posOf candidate key-join, and the anti-join build side)
    // and the union would otherwise re-execute the anchors×corpus
    // retrieval subtree per branch — a per-stage timing at sf10 measured
    // the tail at 64.7s of a 137.1s row, most of it subtree recompute. The
    // checkpointed frame is ≤ hardEnd rows per anchor of 24-byte ids —
    // bounded at any corpus size by construction.
    val ranked = VectorSearch.knnJoin(anchors, emb, vecCol, idCol, metric,
      k = hardStart + nHard - 1, excludeSelf = true,
      broadcastQueries = broadcastAnchors)
      .localCheckpoint(eager = false)
    val positives = ranked.filter(col("rank") <= nPos)
      .select(col("query_id").as("anchor_id"), col("neighbor_id").as("other_id"),
        lit("positive").as("pair_type"), col("rank").cast("long").as("pair_rank"))
    val hard = ranked.filter(col("rank") >= hardStart)
      .select(col("query_id").as("anchor_id"), col("neighbor_id").as("other_id"),
        lit("hard_negative").as("pair_type"),
        (col("rank") - hardStart + 1).cast("long").as("pair_rank"))
    val n = emb.agg(count(lit(1)).as("__n"))
    val posOf = positives.filter(col("pair_rank") === 1)
      .select(col("anchor_id"), col("other_id").as("__pos"))
    // anchor-keyed equi-join, NOT broadcast: anchors can be a large
    // corpus fraction at scale — AQE picks the strategy
    val candidates = anchors.select(col(idCol).as("anchor_id"))
      .join(posOf, Seq("anchor_id"))
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), col("__n"),
        explode(array((1 to nRandom).map(lit): _*)).as("j"))
      .withColumn("other_id",
        pmod(Sketches.md5Long(concat(col("anchor_id").cast("string"), lit(":"),
          col("j").cast("string"))), col("__n")))
      .filter(col("other_id") =!= col("anchor_id"))
    // anti-join against ALL positives (not just rank 1): with nPos > 1 a
    // hash-sampled id can collide with a rank-2..nPos positive, and a
    // mislabeled pair poisons the loss. Key-only (anchor_id, other_id)
    // shuffle, ≤ nPos rows per anchor on the build side.
    val random = candidates
      .join(positives.select("anchor_id", "other_id"),
        Seq("anchor_id", "other_id"), "left_anti")
      .select(col("anchor_id"), col("other_id"),
        lit("random_negative").as("pair_type"), col("j").cast("long").as("pair_rank"))
    positives.unionByName(hard).unionByName(random)
  }
}
