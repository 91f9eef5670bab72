package graft.functions

import org.apache.spark.sql.Column

import graft.expressions.VectorExpressions

/** Similarity metric dispatch — Spark analog of the reference's
  * `similarity_scores` (index.py:32-46): route on a metric name, unknown
  * names rejected. Each metric produces a score `Column` ("higher is more
  * similar") from two `ARRAY<DOUBLE>` columns.
  *
  * All score kernels are native codegen expressions
  * ([[graft.expressions.VectorExpressions]]) — one loop body per kernel,
  * called once per row from whole-stage codegen, norms evaluated once.
  *
  * `scorePrenormalized` is the pairwise-loop form: for Cosine it assumes
  * both inputs were already L2-normalized once per row (so the O(dim) norm
  * is not re-done per pair); for Dot/Euclidean it equals `score`.
  */
sealed trait Metric {
  def name: String

  /** Score from raw (un-normalized) vectors. */
  def score(a: Column, b: Column): Column

  /** Score given inputs already prepared by [[prepare]]. */
  def scorePrenormalized(a: Column, b: Column): Column

  /** Per-row preparation applied to each side before pairwise scoring. */
  def prepare(v: Column): Column
}

object Metric {
  case object Cosine extends Metric {
    val name = "cosine"
    def score(a: Column, b: Column): Column = VectorExpressions.cosine(a, b)
    def scorePrenormalized(a: Column, b: Column): Column =
      VectorExpressions.dot(a, b)
    def prepare(v: Column): Column = VectorExpressions.l2Normalize(v)
  }

  case object Dot extends Metric {
    val name = "dot"
    def score(a: Column, b: Column): Column = VectorExpressions.dot(a, b)
    def scorePrenormalized(a: Column, b: Column): Column =
      VectorExpressions.dot(a, b)
    def prepare(v: Column): Column = v
  }

  /** Distance rescaled to a similarity `1/(1+d)` (reference index.py:40-43). */
  case object Euclidean extends Metric {
    val name = "euclidean"
    def score(a: Column, b: Column): Column =
      VectorFunctions.euclideanSimilarity(a, b)
    def scorePrenormalized(a: Column, b: Column): Column = score(a, b)
    def prepare(v: Column): Column = v
  }

  val all: Seq[Metric] = Seq(Cosine, Dot, Euclidean)

  /** Case-insensitive lookup (reference lowercases before dispatch,
    * index.py:37); unknown metric → IllegalArgumentException
    * (reference index.py:45-46). */
  def fromName(name: String): Metric =
    all.find(_.name == name.toLowerCase).getOrElse(
      throw new IllegalArgumentException(s"Unknown metric: $name"))
}
