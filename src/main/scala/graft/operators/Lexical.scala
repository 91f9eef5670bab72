package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lexical (keyword) relevance — the complement to vector search that
  * the reference lacks but every real retrieval stack pairs with it
  * (hybrid search): Okapi BM25 over whitespace tokens.
  *
  * Scale shape: one explode pass filtered to the QUERY terms before any
  * aggregation (the per-(doc, term) tf table is |terms|-bounded per doc,
  * never vocabulary-sized); document frequencies and corpus stats are
  * term-count-sized frames broadcast to the tf side; the final per-doc
  * sum folds the ≤|terms| term scores in sorted term order via
  * `sort_array(collect_list(...))` — plain `sum(double)` would be
  * partition-order-dependent and break oracle parity.
  *
  * Float parity: every constant is inlined the same way in the oracle
  * SQL builder ([[graft.Queries]]), operand order is mirrored literally,
  * and `ln` is bit-identical between the JVM and DuckDB's libm on this
  * platform (probed; same contract as the vector-kernel parity). */
object Lexical {

  /** BM25 scores of every document containing ≥1 query term:
    * `(idCol, score DOUBLE)`. Standard Okapi:
    * `idf = ln((N − df + 0.5)/(df + 0.5) + 1)`,
    * `score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))`. */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val exploded = Partitioning.spread(docs).select(
      col(idCol),
      size(toks).cast("long").as("len"),
      explode(toks).as("tok"))
    val tf = exploded
      .filter(col("tok").isInCollection(terms))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"), max("len").as("len"))
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = Partitioning.spread(docs)
      .select(size(toks).cast("long").as("l"))
      .agg(count(lit(1)).as("n"), sum("l").as("tot"))
    val avgdl = col("tot").cast("double") / col("n")
    // platformLn, not functions.log: Spark's log is StrictMath (fdlibm),
    // 1 ULP off libm (= DuckDB ln) on some inputs — see PlatformLn
    val idf = graft.expressions.VectorExpressions.platformLn(
      (col("n").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val sc = idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / avgdl))
    tf.join(broadcast(dfq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("sc", sc)
      .groupBy(idCol)
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("tok"), col("sc")))),
          s => s.getField("sc")),
        lit(0.0), (acc, x) => acc + x).as("score"))
  }

  /** Top-k by BM25 with id tie-break. */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame =
    bm25(docs, idCol, textCol, terms)
      .orderBy(desc("score"), asc(idCol))
      .limit(k)

  /** Positional postings for the given terms only:
    * `(idCol, tok, pos)` — the slice of an inverted index a phrase
    * query touches. The term filter lands on the exploded stream BEFORE
    * any shuffle, so the frame is |query terms|-bounded per doc, never
    * vocabulary-sized. */
  def postings(
      docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame =
    Partitioning.spread(docs)
      .select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok").isInCollection(terms))

  /** Exact-phrase search — what bag-of-words BM25 cannot do: documents
    * where `phrase` occurs as ADJACENT tokens, with occurrence counts.
    * Classic positional-postings intersection: term i's postings join
    * term 0's on `(doc, pos_i = pos_0 + i)` — every join is an
    * equi-join on (doc, shifted position), each side term-filtered at
    * the scan, so cost scales with posting-list sizes, not the corpus.
    * Output: `(idCol, n_occurrences)`, docs containing the phrase. */
  def phraseSearch(
      docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    // materialize the postings slice once — it feeds one join side per
    // term (the minhashCandidates lesson; a real deployment reads a
    // PERSISTED inverted index here)
    val post = postings(docs, idCol, textCol, phrase.distinct).localCheckpoint()
    val first = post.filter(col("tok") === phrase.head)
      .select(col(idCol), col("pos").as("__p0"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (term, i)) =>
        acc.join(
          post.filter(col("tok") === term)
            .select(col(idCol), (col("pos") - i).as("__p0")),
          Seq(idCol, "__p0"))
    }
    matched.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Reciprocal-rank fusion of two ranked lists (hybrid retrieval):
    * `score = Σ 1/(c + rank)` over the lists a doc appears in — the
    * standard rank-level fusion that needs NO score normalization
    * across modalities (BM25 and cosine live on different scales).
    * Inputs carry `(idCol, rank)`; ranks are exact integers so the
    * fused doubles are deterministic. */
  def rrfFuse(
      ranked: Seq[DataFrame],
      idCol: String,
      c: Int = 60,
      k: Int = 10): DataFrame = {
    val contributions = ranked.map(_.select(
      col(idCol),
      (lit(1.0) / (lit(c) + col("rank"))).as("contrib")))
    contributions.reduce(_ unionByName _)
      .groupBy(idCol)
      // ≤ one contribution per list per doc; sort for a deterministic
      // fold order (contributions differ across lists)
      .agg(aggregate(
        sort_array(collect_list(col("contrib"))),
        lit(0.0), (acc, x) => acc + x).as("rrf"))
      .orderBy(desc("rrf"), asc(idCol))
      .limit(k)
  }
}
