package graft

import graft.operators.{Sketches, Splits}

/** DuckDB oracle-SQL fragment builders.
  *
  * The driver hash-compares each Spark query result against DuckDB running
  * `SparkEntry.oracleSql` on the same parquet (BASELINE.md). Doubles must
  * match bit-for-bit (SURVEY §2.4.4), so every fragment here mirrors the
  * exact arithmetic of `graft.functions.VectorFunctions`:
  *
  *  - Spark `aggregate(xs, 0.0, (acc,x) -> acc+x)` is a left fold seeded
  *    with 0.0 → DuckDB `list_reduce(list_prepend(0.0, xs), ...)`.
  *  - element products are generated in array order via a 1-based index
  *    range, matching `zip_with`'s pairing order.
  *  - normalization divides by `(sqrt(Σx²) + 1e-12)` exactly as the
  *    engine does.
  *  - [[md5Long]] is the SQL mirror of `Sketches.md5Long` (md5 → first
  *    15 hex digits → BIGINT), the hash format every sketch, split and
  *    sampler relies on; [[shingleHash]], [[hashValue]] and
  *    [[hashBucket]] mirror the Spark functions of the same names,
  *    [[tokens]] mirrors `TextOps.tokens` and [[wordNgrams]] mirrors
  *    `TextOps.wordNgramsOfTokens`.
  */
object Oracle {

  /** md5 → first 15 hex digits → BIGINT: DuckDB's '0x…' cast reads the
    * same 60-bit integer as Spark's `conv(…, 16, 10)`. */
  def md5Long(expr: String): String =
    s"CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT)"

  /** Mirror of `Sketches.shingleHash`: [[md5Long]] mod the minhash prime. */
  def shingleHash(expr: String): String =
    s"${md5Long(expr)} % ${Sketches.MinhashPrime}"

  /** Mirror of `Splits.hashValue`: [[shingleHash]] of `salt:id`. */
  def hashValue(idExpr: String, salt: String): String =
    s"(${shingleHash(s"'$salt:' || CAST($idExpr AS VARCHAR)")})"

  /** Mirror of `Splits.hashBucket`: [[hashValue]] mod `Splits.Buckets`. */
  def hashBucket(idExpr: String, salt: String): String =
    s"(${hashValue(idExpr, salt)} % ${Splits.Buckets})"

  /** Whitespace tokens of trimmed text — mirror of `TextOps.tokens`:
    * DuckDB's `string_split_regex` splits on runs of ASCII spaces
    * exactly as Spark's `split(trim(text), " +")`, and empty text gives
    * one empty token in both. */
  def tokens(expr: String): String = s"string_split_regex(trim($expr), ' +')"

  /** The word n-grams of token list `t`, space-joined, in order — mirror
    * of `TextOps.wordNgramsOfTokens`: a list shorter than `n` gives an
    * empty list (`range(1, 1)`). */
  def wordNgrams(t: String, n: Int): String = {
    val parts = (0 until n).map(j => if (j == 0) s"$t[i]" else s"$t[i + $j]")
    s"list_transform(range(1, greatest(len($t) - ${n - 1}, 0) + 1), i -> ${parts.mkString(" || ' ' || ")})"
  }

  /** Left-fold sum with 0.0 seed — bit-exact mirror of Spark's
    * `aggregate(xs, lit(0.0), (acc, x) => acc + x)`. */
  def foldSum(listExpr: String): String =
    s"list_reduce(list_prepend(0.0, $listExpr), (acc, x) -> acc + x)"

  def sqSum(v: String): String =
    foldSum(s"list_transform($v, s1 -> s1 * s1)")

  def l2Norm(v: String): String = s"sqrt(${sqSum(v)})"

  /** `v / (||v|| + 1e-12)` elementwise. */
  def l2Normalize(v: String): String =
    s"list_transform($v, nx -> nx / (${l2Norm(v)} + 1e-12))"

  /** Dot product of two same-length list columns via 1-based index range —
    * same pairing and fold order as Spark `zip_with` + `aggregate`. */
  def dot(a: String, b: String, dim: Int): String =
    foldSum(s"list_transform(range(1, ${dim + 1}), zi -> $a[zi] * $b[zi])")

  def euclideanDistance(a: String, b: String, dim: Int): String =
    s"sqrt(${foldSum(s"list_transform(range(1, ${dim + 1}), zi -> ($a[zi] - $b[zi]) * ($a[zi] - $b[zi]))")})"

  def euclideanSimilarity(a: String, b: String, dim: Int): String =
    s"1.0 / (1.0 + ${euclideanDistance(a, b, dim)})"

  /** Deterministic arithmetic embedding (SURVEY §2.4.3) — mirror of
    * `VectorFunctions.arithmeticEmbedding`. */
  def arithmeticEmbedding(textExpr: String, dim: Int): String =
    s"list_transform(range(1, ${dim + 1}), ai -> CAST((length($textExpr) * ai) % 97 AS DOUBLE) / 97.0)"

  /** Content-sensitive md5 embedding — mirror of
    * `VectorFunctions.hashEmbedding`: dim i reads hex digit (i mod 32) of
    * `md5("<i/32>:" + text)`, mapped 0..15 → [0,1] via ascii offsets. */
  def hashEmbedding(textExpr: String, dim: Int): String = {
    val ch = s"substr(md5(CAST((hi - 1) // 32 AS VARCHAR) || ':' || $textExpr), CAST((hi - 1) % 32 + 1 AS INTEGER), 1)"
    val v = s"(CASE WHEN ascii($ch) <= 57 THEN ascii($ch) - 48 ELSE ascii($ch) - 87 END)"
    s"list_transform(range(1, ${dim + 1}), hi -> CAST($v AS DOUBLE) / 15.0)"
  }

  /** CTE exposing embeddings with the fixture `ARRAY<FLOAT>` widened to
    * DOUBLE — mirrors `Tables.embeddings`. Yields relation `e(vec_id,
    * label, emb)`. */
  val embeddingsCte: String =
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)"

  /** CTE of L2-normalized embeddings: `n(vec_id, label, nemb)`. */
  val normalizedCte: String =
    s"n AS (SELECT vec_id, label, ${l2Normalize("emb")} AS nemb FROM e)"

  /** Deterministic sign-LSH bucket id — mirror of
    * `VectorSearch.lshBucket`/`hyperplane`: hyperplane j, component i
    * (1-based here): `w = ((i·(j+1)·7919) mod 193)/193.0 − 0.5`;
    * `bucket = Σ_j 2^j·[v·h_j > 0]`. Integer modulo then one division —
    * bit-identical to the Scala-side literal weights. */
  def lshBucket(v: String, dim: Int, bits: Int): String =
    lshBucketBand(v, dim, bits, band = 0)

  /** Band `band`'s bucket — mirror of `VectorSearch.lshBucketBand`:
    * plane index `band·bits + j`, weights from the same integer
    * formula. */
  def lshBucketBand(v: String, dim: Int, bits: Int, band: Int): String = {
    val terms = (0 until bits).map { j =>
      val jj = band * bits + j + 1
      val w = s"(CAST((li * $jj * 7919) % 193 AS DOUBLE) / 193.0 - 0.5)"
      val proj = foldSum(s"list_transform(range(1, ${dim + 1}), li -> $v[li] * $w)")
      s"(CASE WHEN $proj > 0.0 THEN ${1L << j} ELSE 0 END)"
    }
    terms.mkString("(", " + ", ")")
  }
}
