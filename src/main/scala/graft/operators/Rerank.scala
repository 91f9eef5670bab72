package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-stage retrieve-then-rerank — the standard high-recall serving
  * stack the reference's single-stage search would grow into: a cheap
  * first stage (BM25 / ANN) cuts the corpus to N candidates per query,
  * then an expensive pairwise (query, document) scorer re-ranks ONLY
  * those N and returns the top k ≤ N.
  *
  * Scale shape: the second stage's cost is N·queries regardless of
  * corpus size — the model never sees the corpus. The candidate frame
  * (k-bounded ids + scores) is broadcast to the document table, so
  * fetching candidate text is a broadcast semi-join: the corpus scan
  * prunes to `(id, text)` and ships nothing anywhere.
  *
  * The scorer here is a deterministic stand-in for a cross-encoder
  * model (same contract as [[Multimodal]]'s stubbed decoder: the real
  * model is not in this container). It is pure md5 arithmetic — a
  * codegen expression, oracle-replayable — so the PLUMBING (two-stage
  * plan shape, candidate-bounded scoring, rank stitching) is what the
  * correctness gate pins. A real model would slot in behind the same
  * signature as a batched `mapPartitions`/`mapInPandas` boundary. */
object Rerank {

  /** Deterministic pairwise relevance stub in [0, 1): the first 60 bits
    * of `md5(query || \\u0001 || text)` as a double fraction. Replayable in
    * the SQL oracle via the '0x…' BIGINT cast ([[Sketches]] parity
    * pattern). */
  def crossEncoderScore(query: Column, text: Column): Column =
    Sketches.md5Long(concat(query, lit("\u0001"), text))
      .cast("double") / lit(1152921504606846976.0) // 2^60

  /** Re-rank `candidates` (`idCol`, `stage1Rank`) against the document
    * table: fetch candidate text by broadcast join, score every
    * (query, text) pair with [[crossEncoderScore]], return the top `k`
    * as `(idCol, stage1_rank, ce_score)` ordered by score desc, id asc.
    * Keeping the stage-1 rank in the output makes rank movement
    * auditable (the usual offline eval of a reranker). */
  def rerank(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryText: String,
      k: Int): DataFrame =
    docs.select(col(idCol), col(textCol))
      .join(broadcast(candidates), Seq(idCol))
      .withColumn("ce_score", crossEncoderScore(lit(queryText), col(textCol)))
      .select(col(idCol), col("stage1_rank"), col("ce_score"))
      .orderBy(desc("ce_score"), col(idCol).asc)
      .limit(k)

  /** The composed pipeline: BM25 top-`n` candidates (rank-stamped),
    * then [[rerank]] to the top `k`. */
  def bm25ThenRerank(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      queryText: String,
      n: Int,
      k: Int): DataFrame = {
    // unpartitioned window — intentional: ranks a frame already cut to
    // n rows by bm25TopK, so the single-partition WindowExec touches n
    // rows, not the corpus (the qHybridSearch allowance).
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("score"), col(idCol).asc)
    val candidates = Lexical.bm25TopK(docs, idCol, textCol, terms, n)
      .withColumn("stage1_rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("stage1_rank"))
    rerank(candidates, docs, idCol, textCol, queryText, k)
  }
}
