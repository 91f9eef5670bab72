package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions

/** Column-level vector math over `ARRAY<DOUBLE>` columns.
  *
  * The primary entry points ([[dot]], [[cosine]], [[l2Normalize]],
  * [[euclideanDistance]]) are native codegen Catalyst expressions
  * ([[graft.expressions.VectorExpressions]]): one loop body per kernel,
  * called once per row from whole-stage codegen, norms evaluated exactly
  * once.
  *
  * The `hof*` variants are the equivalent declarative higher-order-function
  * formulations (`transform` / `zip_with` / `aggregate`). They are kept as
  * the executable specification: bit-for-bit the same float semantics
  * (left-to-right folds seeded 0.0), and the test suite asserts
  * codegen == HOF on the fixtures. Do NOT use the HOF forms in hot paths —
  * they are interpreted (`CodegenFallback`) and Catalyst's
  * `CollapseProject` re-inlines precomputed norms into lambdas (the
  * round-1 O(dim²) defect).
  *
  * Semantics mirror the reference engine exactly:
  *  - L2 normalize is `v / (||v|| + 1e-12)` — eps-guarded, per
  *    reference `src/vectordb/index.py:4-8`.
  *  - cosine similarity normalizes BOTH sides first, then takes the dot
  *    product (reference `index.py:11-16`) — NOT `dot/(na*nb)`, which is a
  *    different float rounding.
  *  - euclidean is rescaled to a similarity as `1 / (1 + d)` (reference
  *    `index.py:40-43`).
  */
object VectorFunctions {

  /** Epsilon guard for normalization (reference index.py:5-8). */
  val Eps: Double = VectorExpressions.Eps

  // ------------------------------------------------- codegen (hot path) ---

  /** Dot product: left fold of pairwise products (reference index.py:19-22). */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot(a, b)

  /** Eps-guarded L2 normalize `v / (||v|| + 1e-12)`; norm computed once
    * per row inside the kernel. */
  def l2Normalize(v: Column): Column = VectorExpressions.l2Normalize(v)

  /** Cosine similarity of two raw vectors (reference index.py:11-16). */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosine(a, b)

  /** Euclidean distance `sqrt(Σ (x-y)²)` (reference index.py:25-29). */
  def euclideanDistance(a: Column, b: Column): Column =
    VectorExpressions.euclideanDistance(a, b)

  /** Euclidean distance rescaled to a similarity `1/(1+d)`
    * (reference index.py:40-43, api.py:91). */
  def euclideanSimilarity(a: Column, b: Column): Column =
    lit(1.0) / (lit(1.0) + euclideanDistance(a, b))

  // ------------------------------- HOF reference forms (spec, not hot) ---

  /** Sum of squares: left fold `0.0 + x1² + x2² + ...` in array order. */
  def sqSum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x * x)

  /** L2 norm `sqrt(Σ x²)`. */
  def l2Norm(v: Column): Column = sqrt(sqSum(v))

  /** HOF normalize — executable spec for [[l2Normalize]]. */
  def hofL2Normalize(v: Column): Column =
    transform(v, x => x / (l2Norm(v) + lit(Eps)))

  /** HOF dot — executable spec for [[dot]]. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** HOF cosine — executable spec for [[cosine]]. */
  def hofCosine(a: Column, b: Column): Column =
    hofDot(hofL2Normalize(a), hofL2Normalize(b))

  /** HOF euclidean distance — executable spec for [[euclideanDistance]]. */
  def hofEuclideanDistance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  // ------------------------------------------------------------- other ---

  /** Deterministic arithmetic text embedding (SURVEY §2.4.3).
    *
    * `v[i] = ((length(text) * (i+1)) mod 97) / 97.0` for i in 0..dim-1.
    * Replaces the reference's `DummyEmbeddings` (embeddings.py:17-27,
    * which seeds numpy's global RNG with `len(text)` — unportable), with
    * the same contract: a pure deterministic `String => Array[Double]` of
    * fixed width, computable identically in Spark and DuckDB.
    */
  def arithmeticEmbedding(text: Column, dim: Int): Column =
    transform(sequence(lit(1L), lit(dim.toLong)),
      i => (length(text).cast("long") * i % 97).cast("double") / lit(97.0))

  /** Content-sensitive deterministic embedding: dimension i reads hex
    * digit `i mod 32` of `md5("<i/32>:" + text)`, scaled to [0,1].
    * Unlike [[arithmeticEmbedding]] (which mirrors the reference's
    * length-only DummyEmbeddings, embeddings.py:25-27), different texts
    * of the same length get different vectors — still bit-replayable in
    * any engine with md5 (⌈dim/32⌉ hashes per row). */
  def hashEmbedding(text: Column, dim: Int): Column = {
    val blocks = (dim + 31) / 32
    val digests = array((0 until blocks).map(b =>
      md5(concat(lit(s"$b:"), text))): _*)
    transform(sequence(lit(0), lit(dim - 1)), i => {
      val block = element_at(digests, floor(i / lit(32)).cast("int") + 1)
      val a = ascii(block.substr((i % 32) + 1, lit(1)))
      // '0'-'9' → 0..9, 'a'-'f' → 10..15 via ascii offsets, scaled to [0,1]
      when(a <= 57, a - 48).otherwise(a - 87).cast("double") / lit(15.0)
    })
  }
}
