package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Metric, VectorFunctions => VF}
import graft.operators.{Budget, Contrastive, Curation, Diversify, Graph, Layout, Lexical, Multimodal, Packing, Partitioning, Profile, Rag, Rerank, Sketches, Skew, Splits, Temporal, TextOps, VectorSearch, Web}
import graft.sources.{Compaction, Sources}
import graft.streaming.Streaming

/** One declared, oracle-checked query. `oracle` is ANSI-ish SQL DuckDB runs
  * on the same parquet tables; None → driver records a weaker rows-only
  * check (reserved for genuinely non-SQL-expressible ops). */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The declared query inventory (SURVEY §2.3) — the unit of the driver's
  * DuckDB-oracle correctness gate. Every query is deterministic: literal
  * (non-random) query vectors, total-order tie-breakers on every ordered
  * op, arithmetic identical to its oracle SQL (SURVEY §2.4) — and every
  * result column is SCALAR (the driver's pandas compare dies on arrays;
  * round-1 `q_normalize` failure).
  */
object Queries {
  import Tables.EmbeddingDim

  private val K = 10
  private val KnnJoinK = 5
  private val ChunkSize = 300
  private val RagQueryText = "spark window join"
  private val RagTopK = 3

  /** Query vector = the embedding of vec_id 0, as a broadcast 1-row frame
    * (self-join style — deterministic, SURVEY §2.3). */
  private def queryVecFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  /** 1-row frame embedding [[RagQueryText]] arithmetically — the O10 text
    * query path (api.py:164-168) with the SURVEY §2.4.3 deterministic
    * embedding. A constant frame: scored as a literal, not broadcast. */
  private def textQueryFrame(spark: SparkSession): DataFrame =
    spark.range(1)
      .select(VF.arithmeticEmbedding(lit(RagQueryText), EmbeddingDim).as("qvec"))

  /** Oracle CTE for the normalized arithmetic query embedding:
    * `q(qemb)`. */
  private val textQueryCte: String = {
    val emb = Oracle.arithmeticEmbedding(s"'$RagQueryText'", EmbeddingDim)
    s"q AS (SELECT ${Oracle.l2Normalize(emb)} AS qemb)"
  }

  /** documents ⋈ embeddings on doc_id = vec_id — the corpus with both
    * text and vector columns (multimodal join shape). */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(docs("doc_id"), col("text"), col("lang"), col("source"), col("embedding"))
  }

  // ---------------------------------------------------------------- knn ---

  /** The query vector of a single-query search: its 1-row Spark frame
    * (column `qvec`) and its oracle CTE `q(qemb)`, given the scored
    * relation and its vector column. */
  private final case class SearchQuery(
      frame: (SparkSession, String) => DataFrame,
      cte: (String, String) => String)

  /** The embedding of vec_id 0 ([[queryVecFrame]]). */
  private val Vec0Query = SearchQuery(queryVecFrame,
    (rel, v) => s"q AS (SELECT $v AS qemb FROM $rel WHERE vec_id = 0)")

  /** "$RagQueryText" embedded arithmetically — the reference's
    * `search_text` (api.py:164-168). */
  private val TextQuery = SearchQuery((s, _) => textQueryFrame(s), (_, _) => textQueryCte)

  /** "$RagQueryText" by the content-sensitive md5 embedding: the query
    * vector varies with text CONTENT, not just length (exceeds the
    * reference's DummyEmbeddings). */
  private val HashQuery = SearchQuery(
    (s, _) => s.range(1)
      .select(VF.hashEmbedding(lit(RagQueryText), EmbeddingDim).as("qvec")),
    (_, _) => s"q AS (SELECT ${Oracle.l2Normalize(
      Oracle.hashEmbedding(s"'$RagQueryText'", EmbeddingDim))} AS qemb)")

  /** O9: top-[[K]] embeddings by `metric` against `query` — O5 cosine,
    * O6 dot, O7+O8 euclidean similarity `1/(1+d)`. `label` restricts
    * the corpus first (extension — the reference has no filters); the
    * predicate pushes down to the parquet scan (PushedFilters), shrinking
    * the scored set before any vector math runs. Rows: q_knn_cosine,
    * q_knn_dot, q_knn_euclid, q_filter_search (label 3), q_text_search
    * (O10+O15), q_hash_search (O10). */
  private def search(metric: Metric, query: SearchQuery, label: Option[Int] = None)(
      s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorSearch.topK(
      label.fold(emb)(l => emb.filter(col("label") === l)).select("vec_id", "embedding"),
      "embedding", "vec_id",
      query.frame(s, dir), "qvec", metric, K)
      .select("vec_id", "score")
  }

  /** Oracle of [[search]]: cosine scores the normalized `n(nemb)`, the
    * other metrics the raw `e(emb)`. */
  private def searchSql(metric: Metric, query: SearchQuery,
      label: Option[Int] = None): String = {
    val (rel, v) = if (metric == Metric.Cosine) ("n", "nemb") else ("e", "emb")
    val score =
      if (metric == Metric.Euclidean) Oracle.euclideanSimilarity(s"$rel.$v", "q.qemb", EmbeddingDim)
      else Oracle.dot(s"$rel.$v", "q.qemb", EmbeddingDim)
    val ctes =
      if (metric == Metric.Cosine) s"${Oracle.embeddingsCte},\n${Oracle.normalizedCte}"
      else Oracle.embeddingsCte
    val where = label.fold("")(l => s"WHERE $rel.label = $l\n")
    s"""WITH $ctes,
       |${query.cte(rel, v)}
       |SELECT $rel.vec_id AS vec_id, $score AS score
       |FROM $rel CROSS JOIN q
       |${where}ORDER BY score DESC, vec_id ASC LIMIT $K""".stripMargin
  }

  /** The SQL surface under the gate: the flagship cosine top-k written
    * as a PLAIN SQL STRING over a temp view, through the parser and the
    * FunctionRegistry-registered `vec_cosine` kernel
    * ([[GraftFunctions]] / [[GraftExtensions]]) — certifying that a
    * SQL-only user gets the same engine as the DataFrame API (same
    * codegen kernel, same `TakeOrderedAndProject` top-k plan;
    * SqlFunctionsSpec pins kernel-level parity, this row pins the
    * end-to-end result). Oracle: identical to q_knn_cosine's —
    * bit-equality across the two entry paths is the claim. */
  private def qSqlSurface(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.embeddings(s, dir).select("vec_id", "embedding")
      .createOrReplaceTempView("graft_emb_sql")
    s.sql(
      s"""SELECT e.vec_id AS vec_id, vec_cosine(e.embedding, q.embedding) AS score
         |FROM graft_emb_sql e
         |CROSS JOIN (SELECT embedding FROM graft_emb_sql WHERE vec_id = 0) q
         |ORDER BY score DESC, vec_id ASC
         |LIMIT $K""".stripMargin)
  }

  /** Batch knn (O9 at scale; the exact replacement for the reference's
    * HNSW serving path ann.py:67-102): every vector's top-5 cosine
    * neighbors, self excluded. */
  private def qKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    // no broadcastData override: at 100× the data side (~2.5 GB) would OOM
    // a mandatory broadcast — AQE picks the strategy from runtime sizes
    VectorSearch.knnJoin(emb, emb, "embedding", "vec_id", Metric.Cosine,
      k = KnnJoinK, excludeSelf = true)
  }

  /** Oracle tail shared by every knn-join row: rank the scored candidate
    * pairs `p(query_id, neighbor_id, score)` and keep the top
    * [[KnnJoinK]] per query. */
  private val topKSql: String =
    s"""r AS (
       |  SELECT query_id, neighbor_id, score,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM p)
       |SELECT query_id, neighbor_id, score, rank
       |FROM r WHERE rank <= $KnnJoinK
       |ORDER BY query_id, rank""".stripMargin

  private val qKnnJoinSql: String = {
    val score = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $score AS score
       |  FROM n a CROSS JOIN n b
       |  WHERE a.vec_id <> b.vec_id),
       |$topKSql""".stripMargin
  }

  // ---------------------------------------------------------- normalize ---

  /** O4: eps-guarded L2 normalization, emitted as SCALAR rows
    * `(vec_id, pos, value)` via posexplode — the driver's hash compare
    * cannot canonicalize array columns (round-1 failure). */
  private def qNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(VF.l2Normalize(col("embedding"))).as(Seq("pos", "value")))
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("vec_id", "pos")

  private val qNormalizeSql: String =
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte}
       |SELECT vec_id, CAST(gs.i - 1 AS BIGINT) AS pos, nemb[gs.i] AS value
       |FROM n CROSS JOIN generate_series(1, $EmbeddingDim) gs(i)
       |ORDER BY vec_id, pos""".stripMargin

  // ----------------------------------------------------------- chunking ---

  /** O17/O18: fixed 300-char window chunking of documents (rag.py:17-24),
    * `(doc_id, chunk_index, chunk_text)`. */
  private def qChunks(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocuments(Tables.documents(s, dir), "doc_id", "text", ChunkSize)
      .orderBy("doc_id", "chunk_index")

  /** Constant upper bound on chunks/doc for the uncorrelated series
    * (DuckDB 1.0 has no correlated `range` lateral); 32×300 = 9,600 chars
    * covers the fixture max (553). */
  private val MaxChunks = 32

  private val qChunksSql: String =
    s"""SELECT doc_id, CAST(gs.i AS BIGINT) AS chunk_index,
       |       substr(text, CAST(gs.i * $ChunkSize + 1 AS INTEGER), $ChunkSize) AS chunk_text
       |FROM documents CROSS JOIN generate_series(0, ${MaxChunks - 1}) gs(i)
       |WHERE gs.i < greatest(CAST(ceil(length(text) / $ChunkSize.0) AS BIGINT), 1)
       |ORDER BY doc_id, chunk_index""".stripMargin

  /** O19: RAG retrieve+assemble (rag.py:67-97) — top-3 docs for the text
    * query, contexts joined `"\n---\n"` in score order, placeholder
    * answer template. Single scalar row `(query, context, answer)`. */
  private def qRagContext(s: SparkSession, dir: String): DataFrame =
    Rag.answerQuery(
      corpus(s, dir).select("doc_id", "text", "embedding"),
      "doc_id", "text", "embedding",
      textQueryFrame(s), "qvec", Metric.Cosine, RagTopK)
      .select(lit(RagQueryText).as("query"), col("context"), col("answer"))

  private val qRagContextSql: String = {
    val score = Oracle.dot("n.nemb", "q.qemb", EmbeddingDim)
    val agg = s"string_agg(text, e'\\n---\\n' ORDER BY score DESC, doc_id ASC)"
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |$textQueryCte,
       |top AS (
       |  SELECT d.doc_id, d.text, $score AS score
       |  FROM documents d JOIN n ON d.doc_id = n.vec_id CROSS JOIN q
       |  ORDER BY score DESC, d.doc_id ASC LIMIT $RagTopK)
       |SELECT '$RagQueryText' AS query,
       |       $agg AS context,
       |       'This is a placeholder answer. Relevant context:' || chr(10) || $agg AS answer
       |FROM top""".stripMargin
  }

  /** O18+O19 end-to-end: the reference's real `answer_query` shape —
    * `build_rag_index` chunks + embeds every document into a chunk-level
    * [[graft.VectorTable]] (rag.py:27-52), then retrieval runs over
    * CHUNKS, not documents (rag.py:67-97). Chunk ids are deterministic
    * (`doc_id·10⁴ + chunk_index`), so top-k tie-breaks replay exactly. */
  private def qRagChunks(s: SparkSession, dir: String): DataFrame = {
    val index = Rag.buildIndex(
      Tables.documents(s, dir), "doc_id", "text", ChunkSize, EmbeddingDim)
    Rag.answerFromIndex(s, index, "text", RagQueryText, RagTopK)
      .select(lit(RagQueryText).as("query"), col("context"), col("answer"))
  }

  private val qRagChunksSql: String = {
    val emb = Oracle.arithmeticEmbedding("text", EmbeddingDim)
    val score = Oracle.dot("c.nemb", "q.qemb", EmbeddingDim)
    val agg = s"string_agg(text, e'\\n---\\n' ORDER BY score DESC, vec_id ASC)"
    s"""WITH chunks AS (
       |  SELECT doc_id * 10000 + gs.i AS vec_id,
       |         substr(text, CAST(gs.i * $ChunkSize + 1 AS INTEGER), $ChunkSize) AS text
       |  FROM documents CROSS JOIN generate_series(0, ${MaxChunks - 1}) gs(i)
       |  WHERE gs.i < greatest(CAST(ceil(length(text) / $ChunkSize.0) AS BIGINT), 1)),
       |cn AS (SELECT vec_id, text, ${Oracle.l2Normalize(emb)} AS nemb FROM chunks),
       |$textQueryCte,
       |top AS (
       |  SELECT c.vec_id, c.text, $score AS score
       |  FROM cn c CROSS JOIN q
       |  ORDER BY score DESC, c.vec_id ASC LIMIT $RagTopK)
       |SELECT '$RagQueryText' AS query,
       |       $agg AS context,
       |       'This is a placeholder answer. Relevant context:' || chr(10) || $agg AS answer
       |FROM top""".stripMargin
  }

  // -------------------------------------------------------- projections ---

  /** O22: items projection (`GET /items`, server.py:108-122) — metadata
    * columns only; the embedding column is never read. */
  private def qItems(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  private val qItemsSql: String =
    "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id"

  /** SURVEY §1.3 free-form metadata (reference storage.py:19
    * `Dict[str, Any]`): promote (lang, source) into a
    * `MAP<STRING,STRING>`, filter with `meta[key]` map-key predicates,
    * project map lookups. Catalyst's `SimplifyExtractValueOps` folds
    * `GetMapValue(map(k → col), k)` back to the promoted column, so both
    * predicates reach the documents scan as pushed filters — the
    * free-form API costs nothing over typed columns in-plan (verified:
    * the scan shows `PushedFilters: [EqualTo(lang,en), EqualTo(source,
    * src7)]`; `element_at` would NOT fold — it is excluded from the
    * rule for its ANSI missing-key semantics). */
  private def qMetaFilter(s: SparkSession, dir: String): DataFrame =
    VectorTable(corpus(s, dir),
      VectorTableConfig(EmbeddingDim, "cosine", idCol = "doc_id"))
      .withMetaMap("meta", Seq("lang", "source"))
      .filterMeta("meta", "lang", "en")
      .filterMeta("meta", "source", "src7")
      .items
      .select(col("doc_id"),
        col("meta").getItem("lang").as("m_lang"),
        col("meta").getItem("source").as("m_source"))
      .orderBy("doc_id")

  private val qMetaFilterSql: String =
    """SELECT d.doc_id, d.lang AS m_lang, d.source AS m_source
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |WHERE d.lang = 'en' AND d.source = 'src7'
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- north star ---

  /** North-star exact dedup: duplicate groups by md5(text). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    TextOps.dedupExactGroups(Tables.documents(s, dir), "doc_id", "text")

  private val qDedupExactSql: String =
    """SELECT md5(text) AS text_hash,
      |       CAST(count(*) AS BIGINT) AS n_copies,
      |       min(doc_id) AS keeper_id
      |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin

  /** Segment size for [[qSegDedup]]: 30 chars ≈ 5 words per segment, the
    * scale at which the fixture corpus actually repeats itself (~5% of
    * segments are cross-doc duplicates at sf0.01; at the 300-char chunk
    * size nothing repeats and the query would certify a no-op). */
  private val SegDedupSize = 30

  /** Segment count bound for the oracle's constant series (max doc is
    * 577 chars → 20 segments at size 30). */
  private val MaxSegs = 32

  /** North-star segment-level dedup (CCNet-style paragraph dedup over
    * fixed windows): first corpus occurrence of each segment survives,
    * documents reassemble from their surviving segments —
    * [[TextOps.segmentDedup]]. Output is per-doc counts plus the md5 of
    * the reassembled text, so the oracle certifies the REASSEMBLY, not
    * just the survivor counts. */
  private def qSegDedup(s: SparkSession, dir: String): DataFrame =
    TextOps.segmentDedup(Tables.documents(s, dir), "doc_id", "text", SegDedupSize)
      .select(col("doc_id"), col("kept_segs"), col("kept_chars"),
        md5(col("dedup_text").cast("binary")).as("dedup_hash"))
      .orderBy("doc_id")

  private val qSegDedupSql: String =
    s"""WITH segs AS (
       |  SELECT doc_id, CAST(gs.i AS BIGINT) AS seg_index,
       |         substr(text, CAST(gs.i * $SegDedupSize + 1 AS INTEGER), $SegDedupSize) AS seg_text
       |  FROM documents CROSS JOIN generate_series(0, ${MaxSegs - 1}) gs(i)
       |  WHERE gs.i < greatest(CAST(ceil(length(text) / $SegDedupSize.0) AS BIGINT), 1)),
       |firsts AS (
       |  SELECT doc_id, seg_index, seg_text,
       |         row_number() OVER (PARTITION BY md5(seg_text)
       |                            ORDER BY doc_id, seg_index) AS rn
       |  FROM segs)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS kept_segs,
       |       CAST(sum(length(seg_text)) AS BIGINT) AS kept_chars,
       |       md5(string_agg(seg_text, '' ORDER BY seg_index)) AS dedup_hash
       |FROM firsts WHERE rn = 1
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** df threshold for [[qBoilerplateScrub]] — ≥3 distinct docs marks a
    * segment boilerplate; the fixture corpus has 16–220 such segments
    * per sf (non-trivial everywhere, minDf=2 would shade into plain
    * near-dup territory). */
  private val BoilerplateMinDf = 3

  /** Document-frequency boilerplate cut
    * ([[TextOps.scrubFrequentSegments]]): segments in ≥[[BoilerplateMinDf]]
    * distinct docs are cut EVERYWHERE — including the first occurrence
    * that [[qSegDedup]] keeps. Same certificate shape as q_seg_dedup:
    * per-doc survivor counts + md5 of the reassembled text, so the
    * oracle checks the reassembly, not just the cut. */
  private def qBoilerplateScrub(s: SparkSession, dir: String): DataFrame =
    TextOps.scrubFrequentSegments(Tables.documents(s, dir), "doc_id", "text",
        SegDedupSize, BoilerplateMinDf)
      .select(col("doc_id"), col("kept_segs"), col("kept_chars"),
        md5(col("dedup_text").cast("binary")).as("scrub_hash"))
      .orderBy("doc_id")

  private val qBoilerplateScrubSql: String =
    s"""WITH segs AS (
       |  SELECT doc_id, CAST(gs.i AS BIGINT) AS seg_index,
       |         substr(text, CAST(gs.i * $SegDedupSize + 1 AS INTEGER), $SegDedupSize) AS seg_text
       |  FROM documents CROSS JOIN generate_series(0, ${MaxSegs - 1}) gs(i)
       |  WHERE gs.i < greatest(CAST(ceil(length(text) / $SegDedupSize.0) AS BIGINT), 1)),
       |freq AS (
       |  SELECT seg_hash
       |  FROM (SELECT DISTINCT md5(seg_text) AS seg_hash, doc_id FROM segs) s
       |  GROUP BY 1 HAVING count(*) >= $BoilerplateMinDf)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS kept_segs,
       |       CAST(sum(length(seg_text)) AS BIGINT) AS kept_chars,
       |       md5(string_agg(seg_text, '' ORDER BY seg_index)) AS scrub_hash
       |FROM segs WHERE md5(seg_text) NOT IN (SELECT seg_hash FROM freq)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bucket count for [[qFeatureHash]] — small enough that collisions
    * genuinely occur on the fixture (the hashing trick's defining
    * behavior), large enough that the per-doc vectors stay sparse. */
  private val FeatureHashK = 256

  /** Oracle mirror of [[TextOps.featureHash]]'s bucket of token `tok`. */
  private def featureBucketSql(tok: String): String =
    s"((${Oracle.shingleHash(tok)}) % $FeatureHashK)"

  /** Oracle mirror of [[TextOps.featureHash]]'s per-document bag: CTEs
    * `toks(doc_id, token)` and `b(doc_id, bucket, c)`, the count of each
    * document's tokens in each bucket. */
  private val hashedBagCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(${Oracle.tokens("text")}) AS token
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, ${featureBucketSql("token")} AS bucket, count(*) AS c
       |  FROM toks GROUP BY 1, 2)""".stripMargin

  /** Vocabulary-free feature extraction ([[TextOps.featureHash]],
    * hashing trick): per-doc certificate over the sparse hashed
    * bag-of-words — nonzeros, token total, squared l2 norm and max
    * bucket count are all exact integers, so the certificate is
    * engine-portable with no float tolerance. */
  private def qFeatureHash(s: SparkSession, dir: String): DataFrame =
    TextOps.featureHash(Tables.documents(s, dir), "doc_id", "text", FeatureHashK)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("nnz"),
        sum("count").as("n_tokens"),
        sum(col("count") * col("count")).as("l2sq"),
        max("count").as("max_count"))
      .orderBy("doc_id")

  private val qFeatureHashSql: String =
    s"""WITH $hashedBagCtes
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS nnz,
       |       CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(sum(c * c) AS BIGINT) AS l2sq,
       |       CAST(max(c) AS BIGINT) AS max_count
       |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Vocabulary-free quality classifier
    * ([[TextOps.hashedLinearScore]]): the GPT-3-style hashed-BoW
    * keep/drop filter as an exact-integer forward pass — per-doc score
    * and label, plus the per-language keep rates a mixture report
    * reads. Weights are the deterministic arithmetic stand-in
    * (documented at the operator); the oracle replays the identical
    * integer chain. */
  private def qQualityClassifier(s: SparkSession, dir: String): DataFrame =
    TextOps.hashedLinearScore(Tables.documents(s, dir), "doc_id", "text", FeatureHashK)
      .select(col("doc_id"), col("score_int"), col("label"))
      .orderBy("doc_id")

  private val qQualityClassifierSql: String =
    s"""WITH $hashedBagCtes,
       |s AS (
       |  SELECT doc_id,
       |         CAST(sum(c * (((bucket + 1) * 7919) % 193 - 96)) AS BIGINT) AS score_int
       |  FROM b GROUP BY 1)
       |SELECT doc_id, score_int,
       |       CAST(CASE WHEN score_int >= 0 THEN 1 ELSE 0 END AS INTEGER) AS label
       |FROM s ORDER BY doc_id""".stripMargin

  /** The trained-weight classifier ([[TextOps.hashedLinearScoreWeighted]])
    * — certifies the BROADCAST WEIGHT TABLE mechanism the arithmetic
    * stand-in only documents (VERDICT r6 "What's missing" #3): a
    * deterministic fitted-model stand-in `(bucket, weight)` table, SPARSE
    * (every 5th bucket L1-zeroed out, exercising the left-join default-0
    * path), broadcast against the hashed features. PlanSpec pins the
    * BroadcastHashJoin; the oracle rebuilds the same weight table as a
    * `range()` CTE and replays the identical integer chain. */
  private def trainedWeights(s: SparkSession) =
    s.range(FeatureHashK).select(
        col("id").as("bucket"),
        ((col("id") * 37L + 11L) % 201L - 100L).as("weight"))
      .filter((col("bucket") * 37L + 11L) % 5L =!= 0L)

  private def qClassifierTrained(s: SparkSession, dir: String): DataFrame =
    TextOps.hashedLinearScoreWeighted(
        Tables.documents(s, dir), "doc_id", "text", FeatureHashK,
        trainedWeights(s))
      .select(col("doc_id"), col("score_int"), col("label"))
      .orderBy("doc_id")

  private val qClassifierTrainedSql: String =
    s"""WITH $hashedBagCtes,
       |w AS (
       |  SELECT range AS bucket, (range * 37 + 11) % 201 - 100 AS weight
       |  FROM range($FeatureHashK) WHERE (range * 37 + 11) % 5 <> 0),
       |s AS (
       |  SELECT b.doc_id,
       |         CAST(sum(b.c * COALESCE(w.weight, 0)) AS BIGINT) AS score_int
       |  FROM b LEFT JOIN w ON b.bucket = w.bucket GROUP BY 1)
       |SELECT doc_id, score_int,
       |       CAST(CASE WHEN score_int >= 0 THEN 1 ELSE 0 END AS INTEGER) AS label
       |FROM s ORDER BY doc_id""".stripMargin

  /** Top-k for [[qVocabTopk]] — deep enough to cross the content-word
    * boundary below the corpus's handful of boilerplate tokens. */
  private val VocabK = 25

  private val TrigramN = 3

  /** Corpus trigram heavy hitters ([[TextOps.ngramTopK]]): the
    * KenLM-style LM count table's top slice — word n-grams, exact doc
    * frequencies, `TakeOrderedAndProject` final. */
  private def qTrigramTopk(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramTopK(Tables.documents(s, dir), "doc_id", "text", TrigramN, VocabK)

  private val qTrigramTopkSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS t FROM documents),
       |ng AS (
       |  SELECT doc_id,
       |         unnest(${Oracle.wordNgrams("t", TrigramN)}) AS ngram
       |  FROM toks),
       |per_doc AS (
       |  SELECT ngram, doc_id, count(*) AS c FROM ng GROUP BY 1, 2)
       |SELECT ngram,
       |       CAST(sum(c) AS BIGINT) AS n_occurrences,
       |       CAST(count(*) AS BIGINT) AS n_docs
       |FROM per_doc GROUP BY ngram
       |ORDER BY n_occurrences DESC, ngram LIMIT $VocabK""".stripMargin

  /** North-star LM quality score ([[TextOps.lmScore]]): per-doc average
    * trigram log-probability under the corpus's own count LM — the
    * KenLM-style perplexity proxy every corpus-quality cut uses. Exact
    * integer-micro log sums keep the doubles deterministic; n-grams
    * travel as 60-bit hashes. */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(Tables.documents(s, dir), "doc_id", "text", TrigramN)
      .orderBy("doc_id")

  private val qLmScoreSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS t FROM documents),
       |ng AS (
       |  SELECT doc_id,
       |         unnest(${Oracle.wordNgrams("t", TrigramN)}) AS ngram
       |  FROM toks),
       |g AS (
       |  SELECT doc_id, ${Oracle.md5Long("ngram")} AS gh
       |  FROM ng),
       |counts AS (SELECT gh, count(*) AS c FROM g GROUP BY gh),
       |tot AS (SELECT sum(c) AS t FROM counts),
       |per_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       |         sum(CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS sum_ln_c
       |  FROM g JOIN counts USING (gh) GROUP BY doc_id),
       |scored AS (
       |  SELECT doc_id, n_ngrams,
       |         sum_ln_c - n_ngrams * CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT)
       |           AS logprob_micro
       |  FROM per_doc, tot)
       |SELECT doc_id, n_ngrams, CAST(logprob_micro AS BIGINT) AS logprob_micro,
       |       CAST(logprob_micro AS DOUBLE) / 1e6 / n_ngrams AS avg_logprob
       |FROM scored ORDER BY doc_id""".stripMargin

  /** n for [[qDecontaminate]] — the standard 13 of the GPT-3 appendix-C
    * protocol (a shared 13-gram is copying, not coincidence). */
  private val ContamN = 13

  /** Benchmark decontamination ([[TextOps.contaminationReport]]): an
    * id-hash slice of the corpus plays the eval benchmark (every 10th
    * doc), the rest plays the training corpus; the report lists each
    * training doc sharing ≥1 distinct 13-gram with the eval set and how
    * many. The eval gram set broadcasts; the corpus-side probe is
    * map-side (PlanSpec pins the BroadcastHashJoin). Oracle: the same
    * split, md5-hash and distinct-join replayed relationally. */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.contaminationReport(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", ContamN)
      .orderBy("doc_id")
  }

  private val qDecontaminateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS t FROM documents),
       |ng AS (
       |  SELECT doc_id,
       |         unnest(${Oracle.wordNgrams("t", ContamN)}) AS ngram
       |  FROM toks),
       |g AS (
       |  SELECT doc_id, ${Oracle.md5Long("ngram")} AS gh
       |  FROM ng),
       |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 7),
       |tr AS (SELECT DISTINCT doc_id, gh FROM g WHERE doc_id % 10 <> 7)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
       |FROM tr JOIN ev USING (gh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** North-star vocabulary heavy hitters: top-[[VocabK]] tokens by
    * occurrence with document frequencies ([[TextOps.vocabTopK]]) — the
    * distributed word count every new crawl gets first. Ties break on
    * token, so the top-k SET is deterministic. */
  private def qVocabTopk(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabTopK(Tables.documents(s, dir), "doc_id", "text", VocabK)

  private val qVocabTopkSql: String =
    s"""WITH tf AS (
       |  SELECT unnest(${Oracle.tokens("text")}) AS token, doc_id
       |  FROM documents),
       |per_doc AS (
       |  SELECT token, doc_id, count(*) AS c FROM tf GROUP BY 1, 2)
       |SELECT token,
       |       CAST(sum(c) AS BIGINT) AS n_occurrences,
       |       CAST(count(*) AS BIGINT) AS n_docs
       |FROM per_doc GROUP BY token
       |ORDER BY n_occurrences DESC, token LIMIT $VocabK""".stripMargin

  /** Top-k for [[qBpeMerge]] and [[qPmiBigrams]]. */
  private val MergeK = 20

  /** BPE tokenizer training, step one ([[TextOps.bpeMergeCandidates]]):
    * the top-[[MergeK]] adjacent character pairs by weighted occurrence
    * across all word occurrences — the argmax is the first merge rule a
    * byte-pair-encoding tokenizer learns. Corpus → vocabulary first
    * (the only corpus-scale exchange), then the pair explosion runs
    * over the Heaps'-law-sublinear vocab. */
  private def qBpeMerge(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeMergeCandidates(Tables.documents(s, dir), "text", MergeK)

  private val qBpeMergeSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(${Oracle.tokens("text")}) AS word
       |  FROM documents),
       |wc AS (SELECT word, count(*) AS f FROM toks GROUP BY word),
       |pos AS (
       |  SELECT word, f,
       |         unnest(list_transform(range(1, len(word)),
       |           i -> substr(word, i, 2))) AS pair
       |  FROM wc WHERE len(word) >= 2),
       |per_word AS (
       |  SELECT pair, word, f, count(*) AS npos FROM pos GROUP BY 1, 2, 3)
       |SELECT pair,
       |       CAST(sum(npos * f) AS BIGINT) AS pair_count,
       |       CAST(count(*) AS BIGINT) AS n_words
       |FROM per_word GROUP BY pair
       |ORDER BY pair_count DESC, pair LIMIT $MergeK""".stripMargin

  /** Per-language tokenizer fertility ([[TextOps.tokenizerFertility]]):
    * subword-per-word fertility and chars-per-subword compression by
    * language — the datasheet metric for multilingual tokenizer
    * choice, as exact integer milli-ratios. */
  private def qTokenFertility(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenizerFertility(Tables.documents(s, dir), "lang", "text", "n_chars")

  private val qTokenFertilitySql: String =
    s"""WITH b AS (
       |  SELECT lang, n_chars,
       |         CAST(length(${Oracle.tokens("text")}) AS BIGINT) AS ws,
       |         CAST(length(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS BIGINT) AS bpe
       |  FROM documents)
       |SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(ws) AS BIGINT) AS ws_tokens,
       |       CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
       |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       |       CAST((sum(bpe) * 1000) // sum(ws) AS BIGINT) AS fertility_milli,
       |       CAST((sum(n_chars) * 1000) // sum(bpe) AS BIGINT) AS chars_per_bpe_milli
       |FROM b GROUP BY lang ORDER BY lang""".stripMargin

  /** Greedy merge rounds for the BPE-apply queries — small enough that
    * the oracle's unrolled round CTEs stay readable, large enough that
    * per-language fertility discriminates. */
  private val BpeMerges = 8

  /** DuckDB replay of [[TextOps.bpeLearnMerges]]'s greedy rounds as
    * program-generated CTEs: `bwords` (the (lang, word) stream), `v0`
    * (the spaced chr(1)-separated vocab), then one
    * (pair counts `p_i`, argmax `m_i`, rewrite `v_{i+1}`) triple per
    * round — integer counts with the (cnt DESC, a, b) tie-break make
    * every round's argmax unique, so both engines learn the SAME merge
    * table. `chr(2)` coalesce keeps an exhausted round (no pairs left)
    * a no-op instead of a NULL poison. Every CTE is `MATERIALIZED`:
    * each `v_i` is referenced twice (pairs + rewrite), so DuckDB's
    * default inlining would re-evaluate the chain 2^rounds times —
    * measured as a hang at 8 rounds even on the 500-doc fixture. */
  private def bpeRoundsCtes(rounds: Int, src: String = "documents"): String = {
    val head = Seq(
      s"""bwords AS MATERIALIZED (
        |  SELECT lang, unnest(${Oracle.tokens("text")}) AS w
        |  FROM $src)""".stripMargin,
      """v0 AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS f,
        |         chr(1) || regexp_replace(w, '(.)', '\1' || chr(1), 'g') AS sp
        |  FROM bwords GROUP BY w)""".stripMargin)
    val perRound = (0 until rounds).flatMap { i =>
      Seq(
        s"""p$i AS MATERIALIZED (
           |  SELECT u.a AS a, u.b AS b, CAST(sum(f) AS BIGINT) AS cnt
           |  FROM (SELECT f, unnest(list_transform(
           |          range(2, len(string_split(sp, chr(1))) - 1),
           |          j -> struct_pack(a := string_split(sp, chr(1))[j],
           |                           b := string_split(sp, chr(1))[j+1]))) AS u
           |        FROM v$i) GROUP BY 1, 2)""".stripMargin,
        s"m$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY cnt DESC, a, b LIMIT 1)",
        s"""v${i + 1} AS MATERIALIZED (
           |  SELECT w, f, replace(sp,
           |    COALESCE((SELECT chr(1)||a||chr(1)||b||chr(1) FROM m$i), chr(2)),
           |    COALESCE((SELECT chr(1)||a||b||chr(1) FROM m$i), chr(2))) AS sp
           |  FROM v$i)""".stripMargin)
    }
    (head ++ perRound).mkString(",\n")
  }

  /** BPE merge APPLICATION ([[TextOps.bpeLearnMerges]] +
    * [[TextOps.bpeVocabSegmentation]]) — the tokenizer-training loop
    * completed and applied: learn [[BpeMerges]] greedy merges over the
    * corpus vocabulary (driver-side argmax per round — the model-sized
    * pqCodebooks contract), then segment the top-[[MergeK]] words under
    * the learned table via chained codegen `replace`s. The oracle
    * replays every round. */
  private def qBpeApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = TextOps.bpeLearnMerges(docs, "text", BpeMerges)
    TextOps.bpeVocabSegmentation(docs, "text", merges, MergeK)
  }

  private val qBpeApplySql: String =
    s"""WITH ${bpeRoundsCtes(BpeMerges)}
       |SELECT w AS word, f,
       |       CAST(len(sp) - len(replace(sp, chr(1), '')) - 1 AS BIGINT) AS n_subwords,
       |       array_to_string(list_filter(string_split(sp, chr(1)), s -> s <> ''), ' ') AS segmented
       |FROM v$BpeMerges ORDER BY f DESC, word LIMIT $MergeK""".stripMargin

  /** Per-language fertility over REAL learned subwords
    * ([[TextOps.tokenizerFertilityBpe]]) — closes SURVEY open item (b):
    * with a bounded merge budget the learned-merge coverage differs per
    * language, so fertility discriminates even on the caseless fixture
    * (the regex proxy in [[qTokenFertility]] reads 1000 milli
    * everywhere there). Vocab-first: the merge chain runs once per
    * distinct (lang, word). */
  private def qBpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = TextOps.bpeLearnMerges(docs, "text", BpeMerges)
    TextOps.tokenizerFertilityBpe(docs, "lang", "text", "n_chars", merges)
  }

  private val qBpeFertilitySql: String =
    s"""WITH ${bpeRoundsCtes(BpeMerges)},
       |lw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
       |       FROM bwords GROUP BY 1, 2),
       |sub AS (SELECT w,
       |               CAST(len(sp) - len(replace(sp, chr(1), '')) - 1 AS BIGINT) AS ns
       |        FROM v$BpeMerges),
       |agg AS (SELECT lang, CAST(sum(c) AS BIGINT) AS ws_tokens,
       |               CAST(sum(c * ns) AS BIGINT) AS bpe_tokens
       |        FROM lw JOIN sub USING (w) GROUP BY lang),
       |d AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |      FROM documents GROUP BY lang)
       |SELECT lang, n_docs, ws_tokens, bpe_tokens, sum_chars,
       |       CAST((bpe_tokens * 1000) // ws_tokens AS BIGINT) AS fertility_milli,
       |       CAST((sum_chars * 1000) // bpe_tokens AS BIGINT) AS chars_per_bpe_milli
       |FROM d JOIN agg USING (lang) ORDER BY lang""".stripMargin

  /** Apply-side BPE rounds for oracle replays: chained `replace`s of
    * each learned merge `m_i` over a spaced-vocab CTE `(…, sp)` named
    * `$src0` — the SQL mirror of [[TextOps.bpeApplySpaced]], reusing
    * the same chr(2) no-op coalesce as [[bpeRoundsCtes]]. Emits CTEs
    * `${src0}_1 … ${src0}_rounds`. */
  private def bpeApplyCtes(rounds: Int, src0: String, carry: String): String =
    (0 until rounds).map { i =>
      val prev = if (i == 0) src0 else s"${src0}_$i"
      s"""${src0}_${i + 1} AS MATERIALIZED (
         |  SELECT $carry, replace(sp,
         |    COALESCE((SELECT chr(1)||a||chr(1)||b||chr(1) FROM m$i), chr(2)),
         |    COALESCE((SELECT chr(1)||a||b||chr(1) FROM m$i), chr(2))) AS sp
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")

  /** The FineWeb-shaped funnel end-to-end, certified as ONE oracle row
    * (the [[qCorpusPipeline]] contract widened to the r9/r10 surface):
    * URL blocklist gate ([[Web.urlFilter]]) → quality filter
    * ([[TextOps.qualityMetrics]]) → exact dedup keeping the min-id copy
    * ([[TextOps.dedupExact]]) → deterministic split
    * ([[Splits.assignSplit]]) → BPE merges learned on the TRAIN split
    * only ([[TextOps.bpeLearnMerges]]) → per-(split, lang) tokenizer
    * fertility over the learned subwords
    * ([[TextOps.tokenizerFertilityBpe]]). Six operator families, each
    * certified alone elsewhere; this row certifies their COMPOSITION —
    * that ids, columns, and filters survive assembly, and that the
    * tokenizer-vs-corpus split flow (train-learned merges applied to
    * val/test text) is plumbed the way a real pipeline runs it. */
  private def qPipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("url", syntheticUrl(col("doc_id"), col("source")))
    val urlKept = Web.urlFilter(docs, "url", BlockedHosts)
    val okIds = TextOps.qualityMetrics(urlKept, "doc_id", "text", "n_chars")
      .filter(col("quality_ok") === 1)
      .select("doc_id")
    val kept = urlKept.join(okIds, "doc_id")
    val dd = TextOps.dedupExact(kept, "doc_id", "text")
    val lab = Splits.assignSplit(dd, "doc_id", SplitSalt, SplitWeights)
    val merges = TextOps.bpeLearnMerges(
      lab.filter(col("split") === "train"), "text", BpeMerges)
    TextOps.tokenizerFertilityBpe(
      lab.withColumn("cohort", concat_ws(":", col("split"), col("lang"))),
      "cohort", "text", "n_chars", merges)
  }

  // lazy: interpolates syntheticUrlSql/BlockedHosts, declared later in
  // this object — an eager val would interpolate null at init.
  private lazy val qPipelineE2eSql: String = {
    val vals = BlockedHosts.map(h => s"('$h')").mkString(", ")
    s"""WITH uu AS (
       |  SELECT doc_id, lang, text, n_chars,
       |         regexp_extract(lower($syntheticUrlSql), '${Web.HostPattern}', 1) AS host
       |  FROM documents),
       |fu AS (
       |  SELECT * FROM uu d
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM (VALUES $vals) b(h)
       |    WHERE d.host = b.h OR right(d.host, length(b.h)+1) = '.' || b.h)),
       |t AS (
       |  SELECT doc_id, lang, text, n_chars,
       |         ${Oracle.tokens("text")} AS toks
       |  FROM fu),
       |q AS (SELECT doc_id, lang, text, n_chars FROM t WHERE $qualityOkCaseSql = 1),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
       |dd AS (SELECT q.* FROM q JOIN keepers USING (doc_id)),
       |lab AS (SELECT *, $splitCaseSql AS split FROM dd),
       |trainrel AS (SELECT * FROM lab WHERE split = 'train'),
       |${bpeRoundsCtes(BpeMerges, "trainrel")},
       |lwc AS (
       |  SELECT cohort, w, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT split || ':' || lang AS cohort,
       |           unnest(${Oracle.tokens("text")}) AS w
       |    FROM lab) GROUP BY 1, 2),
       |ap AS (
       |  SELECT cohort, c,
       |         chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS sp
       |  FROM lwc),
       |${bpeApplyCtes(BpeMerges, "ap", "cohort, c")},
       |agg AS (
       |  SELECT cohort, CAST(sum(c) AS BIGINT) AS ws_tokens,
       |         CAST(sum(c * (len(sp) - len(replace(sp, chr(1), '')) - 1)) AS BIGINT)
       |           AS bpe_tokens
       |  FROM ap_$BpeMerges GROUP BY 1),
       |d2 AS (
       |  SELECT split || ':' || lang AS cohort,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |  FROM lab GROUP BY 1)
       |SELECT cohort, n_docs, ws_tokens, bpe_tokens, sum_chars,
       |       CAST((bpe_tokens * 1000) // ws_tokens AS BIGINT) AS fertility_milli,
       |       CAST((sum_chars * 1000) // bpe_tokens AS BIGINT) AS chars_per_bpe_milli
       |FROM d2 JOIN agg USING (cohort) ORDER BY cohort""".stripMargin
  }

  /** Count floor for [[qPmiBigrams]] — PMI without one surfaces hapax
    * noise. */
  private val PmiMinCount = 5L

  /** PMI collocation mining ([[TextOps.pmiBigrams]]): the word2vec-style
    * phrase-detection pass — top-[[MergeK]] adjacent token bigrams by
    * pointwise mutual information above a [[PmiMinCount]] floor.
    * Integer-micro `ln` terms keep the score exact cross-engine (the
    * lmScore trick); counts-only exchanges, vocab-keyed joins. */
  private def qPmiBigrams(s: SparkSession, dir: String): DataFrame =
    TextOps.pmiBigrams(Tables.documents(s, dir), "text", PmiMinCount, MergeK)

  private val qPmiBigramsSql: String =
    s"""WITH toks AS (
       |  SELECT ${Oracle.tokens("text")} AS t FROM documents),
       |uni AS (SELECT unnest(t) AS w FROM toks),
       |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
       |tot AS (SELECT sum(c) AS t FROM uc),
       |bg AS (
       |  SELECT unnest(${Oracle.wordNgrams("t", 2)}) AS bigram
       |  FROM toks),
       |bc AS (
       |  SELECT bigram, count(*) AS n_pair FROM bg GROUP BY bigram
       |  HAVING count(*) >= $PmiMinCount),
       |j AS (
       |  SELECT bigram, n_pair,
       |         string_split(bigram, ' ')[1] AS w1,
       |         string_split(bigram, ' ')[2] AS w2
       |  FROM bc),
       |p AS (
       |  SELECT bigram, n_pair, u1.c AS n_left, u2.c AS n_right,
       |         CAST(floor(ln(CAST(n_pair AS DOUBLE)) * 1e6) AS BIGINT)
       |         + CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT)
       |         - CAST(floor(ln(CAST(u1.c AS DOUBLE)) * 1e6) AS BIGINT)
       |         - CAST(floor(ln(CAST(u2.c AS DOUBLE)) * 1e6) AS BIGINT)
       |           AS pmi_micro
       |  FROM j JOIN uc u1 ON j.w1 = u1.w JOIN uc u2 ON j.w2 = u2.w, tot)
       |SELECT bigram, CAST(n_pair AS BIGINT) AS n_pair,
       |       CAST(n_left AS BIGINT) AS n_left,
       |       CAST(n_right AS BIGINT) AS n_right,
       |       CAST(pmi_micro AS BIGINT) AS pmi_micro,
       |       CAST(pmi_micro AS DOUBLE) / 1e6 AS pmi
       |FROM p ORDER BY pmi_micro DESC, bigram LIMIT $MergeK""".stripMargin

  /** Window width for [[qSharedSpans]] — 8 tokens (the Lee et al. 2022
    * protocol uses 50; the fixture's shared boilerplate runs are
    * shorter, so 8 keeps the query non-vacuous at sf0.001). */
  private val SpanK = 8

  /** Exact shared-substring spans ([[Sketches.sharedRuns]]): the
    * exact-match half of Lee et al. 2022's training-data dedup — for
    * every doc pair sharing a [[SpanK]]-token window, the longest run
    * of consecutive shared windows (= the longest exactly-shared token
    * span) and its start positions, via the relational diagonal trick.
    * Doc-frequency-bounded before the self-join; island windows
    * partition by (pair, diagonal) — document-length-bounded, never
    * corpus-scale. */
  private def qSharedSpans(s: SparkSession, dir: String): DataFrame =
    Sketches.sharedRuns(Tables.documents(s, dir), "doc_id", "text", SpanK)
      .orderBy("a_id", "b_id")

  private val qSharedSpansSql: String = {
    val parts = (0 until SpanK).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    val km1 = SpanK - 1
    s"""WITH toks AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS t FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         ${Oracle.md5Long(parts)} AS gh
       |  FROM toks, unnest(range(1, greatest(len(t) - $km1, 0) + 1)) AS u(i)),
       |usable AS (
       |  SELECT gh FROM (
       |    SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY gh)
       |  WHERE df BETWEEN 2 AND 10),
       |p AS (SELECT g.* FROM g JOIN usable USING (gh)),
       |m AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         a.pos AS a_pos, b.pos AS b_pos, a.pos - b.pos AS diag
       |  FROM p a JOIN p b USING (gh) WHERE a.doc_id < b.doc_id),
       |r AS (
       |  SELECT a_id, b_id, diag, a_pos, b_pos,
       |         a_pos - row_number() OVER (
       |           PARTITION BY a_id, b_id, diag ORDER BY a_pos) AS run
       |  FROM m),
       |runs AS (
       |  SELECT a_id, b_id, diag, run, count(*) AS len,
       |         min(a_pos) AS a_start, min(b_pos) AS b_start
       |  FROM r GROUP BY 1, 2, 3, 4),
       |best AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY a_id, b_id
       |    ORDER BY len DESC, a_start, b_start) AS rn
       |  FROM runs)
       |SELECT a_id, b_id, CAST(len + $km1 AS BIGINT) AS span_tokens,
       |       CAST(a_start AS BIGINT) AS a_start,
       |       CAST(b_start AS BIGINT) AS b_start
       |FROM best WHERE rn = 1 ORDER BY a_id, b_id""".stripMargin
  }

  /** Apply-side of exact substring dedup ([[Sketches.scrubSharedSpans]]):
    * every shared [[SpanK]]-token span CUT from the higher-id doc of its
    * pair (the Lee et al. 2022 remove-one-copy protocol under the
    * deterministic keep-lowest-id policy), overlapping spans merged per
    * doc, every doc reported with its removed-token count and the
    * reassembled text. */
  private def qSpanScrub(s: SparkSession, dir: String): DataFrame =
    Sketches.scrubSharedSpans(Tables.documents(s, dir), "doc_id", "text", SpanK)
      .orderBy("doc_id")

  private val qSpanScrubSql: String = {
    val parts = (0 until SpanK).map(j => s"t[i + $j]").mkString(" || ' ' || ")
    val km1 = SpanK - 1
    s"""WITH toks AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS t FROM documents),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         ${Oracle.md5Long(parts)} AS gh
       |  FROM toks, unnest(range(1, greatest(len(t) - $km1, 0) + 1)) AS u(i)),
       |usable AS (
       |  SELECT gh FROM (
       |    SELECT gh, count(DISTINCT doc_id) AS df FROM g GROUP BY gh)
       |  WHERE df BETWEEN 2 AND 10),
       |p AS (SELECT g.* FROM g JOIN usable USING (gh)),
       |m AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         a.pos AS a_pos, b.pos AS b_pos, a.pos - b.pos AS diag
       |  FROM p a JOIN p b USING (gh) WHERE a.doc_id < b.doc_id),
       |r AS (
       |  SELECT a_id, b_id, diag, a_pos, b_pos,
       |         a_pos - row_number() OVER (
       |           PARTITION BY a_id, b_id, diag ORDER BY a_pos) AS run
       |  FROM m),
       |runs AS (
       |  SELECT a_id, b_id, diag, run, count(*) AS len,
       |         min(a_pos) AS a_start, min(b_pos) AS b_start
       |  FROM r GROUP BY 1, 2, 3, 4),
       |iv AS (
       |  SELECT DISTINCT b_id AS doc_id, b_start AS s,
       |         b_start + len + $km1 AS e
       |  FROM runs),
       |o AS (
       |  SELECT doc_id, s, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
       |  FROM iv),
       |isl AS (
       |  SELECT doc_id, s, e,
       |         sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
       |  FROM o),
       |mg AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e FROM isl GROUP BY 1, 2),
       |rm AS (SELECT doc_id, sum(e - s) AS removed FROM mg GROUP BY 1),
       |tokpos AS (
       |  SELECT doc_id, i, t[i] AS tok
       |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
       |kept AS (
       |  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.i) AS scrubbed
       |  FROM tokpos tp
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM mg WHERE mg.doc_id = tp.doc_id
       |      AND tp.i - 1 >= mg.s AND tp.i - 1 < mg.e)
       |  GROUP BY tp.doc_id)
       |SELECT d.doc_id,
       |       CAST(len(d.t) AS BIGINT) AS n_tokens,
       |       CAST(COALESCE(rm.removed, 0) AS BIGINT) AS n_tokens_removed,
       |       COALESCE(kept.scrubbed, '') AS scrubbed
       |FROM toks d
       |LEFT JOIN rm USING (doc_id) LEFT JOIN kept USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Filtering-funnel ablation ledger ([[Curation.funnelReport]]): the
    * per-gate drop counts a corpus datasheet publishes — six gates
    * applied in order (length floor/ceiling, token shape, alphabetic
    * ratio, stopword presence, exact-dup keeper), each row reporting
    * docs in / kept / dropped. Thresholds are fixture-calibrated so the
    * gates actually fire; every predicate is exact-integer
    * (cross-multiplied ratios — no float compares). One corpus pass:
    * the survival depth is a fused `when` chain and all counters come
    * from a single 1-row aggregate, unpivoted by `stack`. */
  private def qQualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = Partitioning.spread(docs)
      .withColumn("__toks", TextOps.tokens(col("text")))
      .withColumn("__ntok", size(col("__toks")).cast("long"))
      .withColumn("__nsp", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("__alpha", length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
      .withColumn("__stop",
        size(filter(col("__toks"), t => t.isInCollection(TextOps.EnStopwords))).cast("long"))
      .withColumn("__h", md5(col("text").cast("binary")))
    val keepers = TextOps.dedupExactGroups(docs, "doc_id", "text")
      .select(col("text_hash").as("__h"), col("keeper_id"))
    val flagged = base.join(keepers, "__h")
    Curation.funnelReport(flagged, Seq(
      "min_chars" -> (col("n_chars") >= 100),
      "max_chars" -> (col("n_chars") <= 500),
      "token_shape" -> (col("__nsp") >= col("__ntok") * 4 && col("__nsp") <= col("__ntok") * 12),
      "alpha_ratio" -> (col("__alpha") * 10 >= col("n_chars") * 8),
      "stopword" -> (col("__stop") >= 1),
      "exact_keeper" -> (col("doc_id") === col("keeper_id"))))
  }

  private val qQualityFunnelSql: String =
    s"""WITH b AS (
      |  SELECT doc_id, n_chars,
      |         CAST(length(${Oracle.tokens("text")}) AS BIGINT) AS ntok,
      |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nsp,
      |         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha,
      |         CAST(len(list_filter(${Oracle.tokens("text")},
      |           x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS stop_hits,
      |         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |  FROM documents),
      |d AS (
      |  SELECT CASE WHEN NOT (n_chars >= 100) THEN 0
      |              WHEN NOT (n_chars <= 500) THEN 1
      |              WHEN NOT (nsp BETWEEN 4 * ntok AND 12 * ntok) THEN 2
      |              WHEN NOT (alpha * 10 >= n_chars * 8) THEN 3
      |              WHEN NOT (stop_hits >= 1) THEN 4
      |              WHEN NOT (doc_id = keeper) THEN 5
      |              ELSE 6 END AS depth
      |  FROM b),
      |s(stage, stage_name) AS (
      |  VALUES (1, 'min_chars'), (2, 'max_chars'), (3, 'token_shape'),
      |         (4, 'alpha_ratio'), (5, 'stopword'), (6, 'exact_keeper'))
      |SELECT s.stage AS stage, s.stage_name AS stage_name,
      |       CAST(count(*) FILTER (WHERE d.depth >= s.stage - 1) AS BIGINT) AS n_in,
      |       CAST(count(*) FILTER (WHERE d.depth >= s.stage) AS BIGINT) AS n_kept,
      |       CAST(count(*) FILTER (WHERE d.depth >= s.stage - 1)
      |            - count(*) FILTER (WHERE d.depth >= s.stage) AS BIGINT) AS n_dropped
      |FROM s, d GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** CCNet-style perplexity bucketing ([[Curation.perplexityBuckets]]):
    * per-language head/middle/tail terciles of the corpus-trained
    * trigram-LM score (Wenzek et al. 2020's CommonCrawl
    * stratification), reported as per-(lang, bucket) aggregates.
    * Thresholds are integer RANK cuts over the (lang, score) histogram
    * (no interpolated percentile — cross-engine ulp-exact), broadcast
    * back; the classify is map-side, never a per-language corpus
    * window. */
  private def qCcnetBuckets(s: SparkSession, dir: String): DataFrame =
    Curation.perplexityBuckets(Tables.documents(s, dir), "doc_id", "text", "lang", TrigramN)

  private val qCcnetBucketsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS t FROM documents),
       |ng AS (
       |  SELECT doc_id,
       |         unnest(${Oracle.wordNgrams("t", TrigramN)}) AS ngram
       |  FROM toks),
       |g AS (
       |  SELECT doc_id, ${Oracle.md5Long("ngram")} AS gh
       |  FROM ng),
       |counts AS (SELECT gh, count(*) AS c FROM g GROUP BY gh),
       |tot AS (SELECT sum(c) AS t FROM counts),
       |per_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
       |         sum(CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS sum_ln_c
       |  FROM g JOIN counts USING (gh) GROUP BY doc_id),
       |scored AS (
       |  SELECT doc_id, n_ngrams,
       |         sum_ln_c - n_ngrams * CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT)
       |           AS logprob_micro
       |  FROM per_doc, tot),
       |sc AS (
       |  SELECT s.doc_id, s.n_ngrams, d.lang,
       |         CAST(floor(CAST(s.logprob_micro AS DOUBLE) / 1e6 / s.n_ngrams * 1000)
       |              AS BIGINT) AS score
       |  FROM scored s JOIN documents d USING (doc_id)),
       |hist AS (
       |  SELECT lang, score, count(*) AS c FROM sc GROUP BY 1, 2),
       |cum AS (
       |  SELECT lang, score, c,
       |         sum(c) OVER (PARTITION BY lang ORDER BY score DESC) AS cm
       |  FROM hist),
       |n AS (SELECT lang, sum(c) AS nl FROM hist GROUP BY lang),
       |th AS (
       |  SELECT cum.lang,
       |         max(CASE WHEN cm >= (nl + 2) // 3 THEN score END) AS q_hi,
       |         max(CASE WHEN cm >= (2 * nl + 2) // 3 THEN score END) AS q_lo
       |  FROM cum JOIN n USING (lang) GROUP BY 1),
       |b AS (
       |  SELECT sc.lang, sc.n_ngrams, sc.score,
       |         CASE WHEN sc.score >= th.q_hi THEN 'head'
       |              WHEN sc.score >= th.q_lo THEN 'middle'
       |              ELSE 'tail' END AS bucket
       |  FROM sc JOIN th ON sc.lang = th.lang)
       |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_ngrams) AS BIGINT) AS sum_grams,
       |       CAST(sum(score) AS BIGINT) AS sum_score_milli,
       |       CAST(min(score) AS BIGINT) AS min_score_milli,
       |       CAST(max(score) AS BIGINT) AS max_score_milli
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DSIR importance weighting ([[Curation.dsirWeights]]): every raw
    * document scored by the hashed-unigram log-likelihood ratio against
    * a target slice (the eval-split convention: every 10th doc plays
    * the curated target) — the importance-resampling selection signal
    * of Xie et al. 2023. The ≤[[FeatureHashK]]-row log-ratio model
    * BROADCASTS (PlanSpec-pinned); the corpus never reshuffles for it. */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Curation.dsirWeights(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", FeatureHashK)
      .orderBy("doc_id")
  }

  private val qDsirWeightsSql: String = {
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Oracle.tokens("text")}) AS token
       |  FROM documents),
       |tb AS (
       |  SELECT ${featureBucketSql("token")} AS bucket, count(*) AS ct
       |  FROM toks WHERE doc_id % 10 = 7 GROUP BY 1),
       |rb AS (
       |  SELECT ${featureBucketSql("token")} AS bucket, count(*) AS cr
       |  FROM toks WHERE doc_id % 10 <> 7 GROUP BY 1),
       |tt AS (SELECT COALESCE(sum(ct), 0) AS nt FROM tb),
       |rt AS (SELECT COALESCE(sum(cr), 0) AS nr FROM rb),
       |model AS (
       |  SELECT rb.bucket,
       |         CAST(floor(ln(CAST(COALESCE(tb.ct, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |         - CAST(floor(ln(CAST(nt + $FeatureHashK AS DOUBLE)) * 1e6) AS BIGINT)
       |         - CAST(floor(ln(CAST(rb.cr + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |         + CAST(floor(ln(CAST(nr + $FeatureHashK AS DOUBLE)) * 1e6) AS BIGINT)
       |           AS lr_micro
       |  FROM rb LEFT JOIN tb USING (bucket), tt, rt),
       |f AS (
       |  SELECT doc_id, ${featureBucketSql("token")} AS bucket, count(*) AS c
       |  FROM toks WHERE doc_id % 10 <> 7 GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |       CAST(sum(c * lr_micro) AS BIGINT) AS weight_micro,
       |       CAST(sum(c * lr_micro) AS DOUBLE) / 1e6 / sum(c) AS avg_weight
       |FROM f JOIN model USING (bucket)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Deterministic URL stand-in for the fixture's `source` column (the
    * fixture ships no URL column — the SURVEY §1.3 metadata stand-in
    * convention, like the arithmetic embeddings): scheme, userinfo,
    * subdomain, casing, TLD, port, path and query string all vary by
    * `doc_id` arithmetic, so [[Web.host]] faces every extraction edge
    * the FineWeb URL-filtering stage faces on real crawl URLs. */
  private def syntheticUrl(docId: Column, source: Column): Column = concat(
    when(docId % 3 === 0, lit("https")).otherwise(lit("http")), lit("://"),
    when(docId % 11 === 0, lit("user:pw@")).otherwise(lit("")),
    element_at(array(lit("www."), lit("cdn."), lit(""), lit("a.b.")),
      (docId % 4 + 1).cast("int")),
    when(docId % 6 === 0, upper(source)).otherwise(source),
    // .co.uk branch: multi-label public suffix so q_host_stats exercises
    // the PSL apex path (shop.example.co.uk-class hosts), not just the
    // last-two-labels fallback. The selector is (doc_id // 4) % 4, NOT
    // doc_id % 4: the fixture's source column is doc_id % 20, so a %4
    // TLD would be CONSTANT per source (and per subdomain prefix),
    // silently killing the q_url_filter blocklist drop path.
    element_at(array(lit(".org"), lit(".net"), lit(".io"), lit(".co.uk")),
      (shiftright(docId, 2) % 4 + 1).cast("int")),
    when(docId % 5 === 0, lit(":8080")).otherwise(lit("")),
    lit("/d/"), docId.cast("string"),
    when(docId % 2 === 0, lit("?ref=1")).otherwise(lit("")))

  private val syntheticUrlSql: String =
    """'http' || CASE WHEN doc_id % 3 = 0 THEN 's' ELSE '' END || '://'
      | || CASE WHEN doc_id % 11 = 0 THEN 'user:pw@' ELSE '' END
      | || CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'cdn.' WHEN 2 THEN '' ELSE 'a.b.' END
      | || CASE WHEN doc_id % 6 = 0 THEN upper(source) ELSE source END
      | || CASE (doc_id // 4) % 4 WHEN 0 THEN '.org' WHEN 1 THEN '.net' WHEN 2 THEN '.io' ELSE '.co.uk' END
      | || CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END
      | || '/d/' || doc_id || CASE WHEN doc_id % 2 = 0 THEN '?ref=1' ELSE '' END"""
      .stripMargin.replace("\n", "")

  /** Oracle apex-domain expression over a host column `h` (the s
    * interpolator processes escapes even in triple quotes, so `\\.`
    * emits the single regex backslash). */
  private def apexSql(h: String): String =
    s"""CASE WHEN regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) = '' THEN $h
       |     ELSE regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) END"""
      .stripMargin.replace("\n", "")

  /** The [[Web.PublicSuffixes]] subset as a DuckDB list literal, for
    * oracle replays of the PSL-aware apex ([[Web.apexDomainPsl]]). */
  private val PslListSql: String =
    graft.operators.Web.PublicSuffixes.map(sx => s"'$sx'").mkString("[", ",", "]")

  /** Per-host crawl statistics ([[Web.hostStats]]) — the curator's view
    * for spotting spam farms: host extracted by the shared-dialect
    * regexp (userinfo/port/path stripped, lowercased), two-level
    * (host, lang) → host aggregation so the distinct-language count
    * never EXPANDs the corpus exchange. */
  private def qHostStats(s: SparkSession, dir: String): DataFrame =
    Web.hostStats(
        Tables.documents(s, dir)
          .withColumn("url", syntheticUrl(col("doc_id"), col("source"))),
        "url", "text", "n_chars", "lang")
      .orderBy("host")

  private val qHostStatsSql: String =
    s"""WITH u AS (
       |  SELECT regexp_extract(lower($syntheticUrlSql), '${Web.HostPattern}', 1) AS host,
       |         lang, n_chars,
       |         CAST(len(${Oracle.tokens("text")}) AS BIGINT) AS n_toks
       |  FROM documents),
       |g AS (
       |  SELECT host,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM u GROUP BY host),
       |s AS (
       |  SELECT *, list_transform(range(1, len(string_split(host, '.')) + 1),
       |                           i -> array_to_string(string_split(host, '.')[i:], '.')) AS __sufs
       |  FROM g),
       |m AS (
       |  SELECT *, list_filter(__sufs, x -> list_contains($PslListSql, x)) AS __m
       |  FROM s)
       |SELECT host,
       |       CASE WHEN len(__m) = 0 THEN ${apexSql("host")}
       |            WHEN list_position(__sufs, __m[1]) = 1 THEN host
       |            ELSE __sufs[list_position(__sufs, __m[1]) - 1] END AS apex,
       |       n_docs, n_chars, n_tokens, n_langs
       |FROM m ORDER BY host""".stripMargin

  /** The q_url_filter blocklist: two apex domains (subdomains inherit
    * the block) and one exact subdomain host (its siblings survive). */
  private val BlockedHosts = Seq("src3.org", "src7.net", "cdn.src1.io")

  /** Blocklist URL filtering ([[Web.urlFilter]]) — the FineWeb "URL
    * filtering" gate that runs before every text heuristic: drop docs
    * whose host or any dot-suffix of it is blocklisted. The Spark plan
    * is a ZERO-SHUFFLE codegen filter (the blocklist rides the task
    * closure as an InSet; PlanSpec pins scan→filter, no exchange); the
    * oracle states the same semantics as NOT EXISTS over exact-or-
    * dot-suffix matches. */
  private def qUrlFilter(s: SparkSession, dir: String): DataFrame =
    Web.urlFilter(
        Tables.documents(s, dir)
          .withColumn("url", syntheticUrl(col("doc_id"), col("source"))),
        "url", BlockedHosts)
      .select(col("doc_id"), Web.host(col("url")).as("host"))
      .orderBy("doc_id")

  // Blocklist replay uses right()/length() exact suffix compare, NOT
  // `LIKE '%.' || b.h` — LIKE would treat '_'/'%' in a blocklist entry
  // as wildcards, silently diverging from Web.urlFilter's exact
  // dot-suffix InSet match (ADVICE r10). Same idiom in qPipelineE2eSql.
  private val qUrlFilterSql: String = {
    val vals = BlockedHosts.map(h => s"('$h')").mkString(", ")
    s"""WITH u AS (
       |  SELECT doc_id,
       |         regexp_extract(lower($syntheticUrlSql), '${Web.HostPattern}', 1) AS host
       |  FROM documents)
       |SELECT doc_id, host FROM u d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM (VALUES $vals) b(h)
       |  WHERE d.host = b.h OR right(d.host, length(b.h)+1) = '.' || b.h)
       |ORDER BY doc_id""".stripMargin
  }

  /** North-star text analysis: per-language doc/char/token statistics. */
  private def qTextStats(s: SparkSession, dir: String): DataFrame =
    TextOps.textStats(Tables.documents(s, dir), "lang", "n_chars", "text")

  private val qTextStatsSql: String =
    s"""WITH t AS (
      |  SELECT lang, n_chars,
      |         CAST(length(${Oracle.tokens("text")}) AS BIGINT) AS tok
      |  FROM documents)
      |SELECT lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
      |       CAST(sum(tok) AS BIGINT) AS sum_tokens,
      |       CAST(sum(tok) AS DOUBLE) / count(*) AS avg_tokens
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** North-star multimodal: documents ⋈ embeddings (doc_id = vec_id)
    * equi-join + per-source best doc by cosine vs the vec_id=0 query. */
  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val scored = VectorSearch.scoreAgainst(
      corpus(s, dir).select("doc_id", "source", "embedding"),
      "embedding", queryVecFrame(s, dir), "qvec", Metric.Cosine)
    val w = Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("source", "doc_id", "score")
      .orderBy("source")
  }

  private val qMultimodalSql: String = {
    val score = Oracle.dot("n.nemb", "q.qemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |q AS (SELECT nemb AS qemb FROM n WHERE vec_id = 0),
       |s AS (
       |  SELECT d.source, d.doc_id, $score AS score
       |  FROM documents d JOIN n ON d.doc_id = n.vec_id CROSS JOIN q),
       |r AS (
       |  SELECT source, doc_id, score,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |                            ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM s)
       |SELECT source, doc_id, score FROM r WHERE rn = 1 ORDER BY source""".stripMargin
  }

  /** Approximate batch knn via deterministic sign-LSH bucketing — the
    * 100 TB path: candidates only within a bucket, both sides shuffled
    * by bucket id, no broadcast, no all-pairs. The arithmetic hyperplanes
    * make the bucketing replayable in the oracle. */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    VectorSearch.bucketedKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = KnnJoinK, dim = EmbeddingDim, bits = 8)
      .orderBy("query_id", "rank")
  }

  private val qAnnLshSql: String = {
    val score = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |nb AS (SELECT vec_id, nemb, ${Oracle.lshBucket("nemb", EmbeddingDim, 8)} AS bucket FROM n),
       |p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $score AS score
       |  FROM nb a JOIN nb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |$topKSql""".stripMargin
  }

  private val LshMultiBits = 8
  private val LshMultiBands = 8

  /** Every 20th vector plays the recall-evaluation query sample. */
  private val RecallSampleMod = 20

  /** The HNSW-grade operating point LshSpec pins at recall ≥ 0.8:
    * 4-bit buckets (bounded per-bucket all-pairs) × 16 bands (recall). */
  private val RecallBits = 4
  private val RecallBands = 16

  /** Bucket-cap factor of the capped serving rows — the serving default
    * (MIGRATION.md "Bucket caps"): corpus-side (band, bucket)s denser
    * than 4× the mean occupancy are dropped before the join. 4× keeps
    * every organically-sized bucket in the fixtures (sf0.01: mean 2.35,
    * p99 7) while actually dropping the over-dense tail (sf0.01 max 13;
    * the sf10 sweep measured a 17×-mean hot bucket doing 290× a mean
    * bucket's pair work) — so the oracle row certifies the DROP path,
    * not just the pass-through, at every fixture scale, because the cap
    * is RELATIVE and self-sizes. */
  private val AnnCapFactor = 4.0

  /** Tighter factor for q_ann_recall_capped: at the recall operating
    * point (4-bit × 16-band) the measured occupancy is mean 31.25 at
    * both fixture scales (the embeddings table is 500 rows in each),
    * max 72 at sf0.01 (that row) and max 71 at sf0.001 (LshSpec), so
    * 4× (cap 125) would drop NOTHING and certify nothing — 2×
    * (cap 62.5) drops the measured 63–72-row tail while the dropped
    * vectors keep their other 15 bands, which is exactly the
    * graceful-decay claim the row exists to certify. */
  private val RecallCapFactor = 2.0

  /** Bands of the scaled capped rows — fixed while `bits` scales, per
    * MIGRATION's own rule (size `bits` from N FIRST so per-bucket work
    * stays bounded, then buy recall with `bands`). */
  private val ScaledCapBands = 8

  /** The bands-curve CHEAP point (half the hash tables at identical
    * bits/cap, r15: 42.2s vs bands=8's 167.5s at sf10), pinned by the
    * declared recall row `q_ann_recall_capped_scaled_b4`. */
  private val ScaledCapBandsB4 = 4

  // ------------------------------------------- count-derived sizing rules ---
  //
  // Each rule is defined once in Scala and once as a DuckDB SQL scalar
  // over `embeddings`, so a scaled row passes the same size to its
  // builder and to its oracle. ScaledSizingSpec checks the two forms
  // agree over the whole Long range, and its "fixture anchors" test
  // pins the sizes every fixture and scale gate hits.

  /** MIGRATION's serving-config rule `bits ≈ log2(N / target_bucket_rows)`
    * (target 50 rows/bucket) — pure integer math (`ceil(log2(m)) =
    * bitLength(m − 1)` for m ≥ 1), so DuckDB derives the identical value
    * via `length(bin(m − 1))` with zero cross-engine float risk. CEIL,
    * not floor: rounding bits DOWN doubles mean bucket occupancy (the
    * r11 sf10 gate measured the floor form at bits=11 → mean bucket 98
    * → ~1.6·10⁸ candidate pairs whose vector re-attach exchange overran
    * the gate machine's disk), while rounding UP halves it. Clamped to
    * [1, 20]. */
  private[graft] def scaledLshBits(n: Long): Int = {
    val m = math.max(1L, n / 50)
    math.max(1, math.min(20, 64 - java.lang.Long.numberOfLeadingZeros(m - 1)))
  }

  private val ScaledLshBitsSql =
    "(SELECT GREATEST(1, LEAST(20, length(bin(GREATEST(1, count(*) // 50) - 1)))) FROM embeddings)"

  /** [[scaledLshBits]] floored at 2: multiprobe's two flips need at
    * least two hyperplanes. */
  private def scaledProbeBits(n: Long): Int = math.max(2, scaledLshBits(n))

  private val ScaledProbeBitsSql = s"GREATEST(2, $ScaledLshBitsSql)"

  /** Fixed-count query-sample anchor for the scaled eval rows:
    * `mod = max(20, N/1000)` keeps ~1000 probes at any corpus size.
    * Recall is a STATISTIC — its precision is set by the sample COUNT,
    * not the sample fraction, so the eval side must not grow with the
    * corpus (a fixed-mod sample like [[RecallSampleMod]]'s N/20 makes
    * the exact ground-truth side Θ(N²/20)). */
  private[graft] def scaledEvalMod(n: Long): Long = math.max(20L, n / 1000L)

  private val ScaledEvalModSql = "(SELECT GREATEST(20, count(*) // 1000) FROM embeddings)"

  // ------------------------------------------------ LSH ANN join families ---

  /** One LSH knn join at a fixed operating point: (queries, corpus,
    * query-count hint) → (query_id, neighbor_id, score, rank). The
    * corpus count and the hint gate only the vector re-attach
    * broadcast — plan choice, never results. */
  private type AnnJoin = (DataFrame, DataFrame, Option[Long]) => DataFrame

  /** Multi-band OR LSH ([[VectorSearch.multibandKnnJoin]]) at (`bits`,
    * `bands`, `cap`): independent hyperplane families, candidates
    * unioned across bands, deduped, ranked once. Recall rises as
    * 1−(1−p^bits)^bands at cost linear in bands. `cap` engages the
    * production bucket-size cap (whole (band, bucket)s above
    * `cap`× mean occupancy drop from the corpus side) — the shape the
    * 100 TB sweep runs, since sign-LSH occupancy skew makes the
    * uncapped join's hottest bucket quadratic on its own (r9 sweep:
    * 427s on one 17×-mean bucket). Rows: q_ann_lsh_multi (8 × 8),
    * q_ann_capped (8 × 8, [[AnnCapFactor]]), q_ann_capped_scaled
    * ([[scaledLshBits]] × [[ScaledCapBands]], [[AnnCapFactor]]). */
  private def multiband(s: SparkSession, dir: String, bits: Int, bands: Int,
      cap: Option[Double]): AnnJoin = (q, d, qn) =>
    VectorSearch.multibandKnnJoin(q, d, "embedding", "vec_id",
      Metric.Cosine, k = KnnJoinK, dim = EmbeddingDim, bits = bits, bands = bands,
      maxBucketFactor = cap, dataCountHint = Some(embCount(s, dir)),
      queriesCountHint = qn)

  /** Multi-probe LSH ([[VectorSearch.multiProbeKnnJoin]], Lv et al.
    * VLDB 2007) at (`bits`, `cap`): the query probes its own bucket PLUS
    * the two buckets reached by flipping the lowest-|margin| sign bits —
    * recall bought per query at serving time against the UNCHANGED
    * single-band index. `cap` drops corpus buckets over `cap`× mean
    * occupancy before the probe join; a dropped corpus vector has no
    * other band, so the capped config carries its own recall row.
    * Rows: q_ann_multiprobe (8 bits), q_ann_multiprobe_scaled and
    * q_ann_multiprobe_capped_scaled ([[scaledProbeBits]]). */
  private def multiprobe(s: SparkSession, dir: String, bits: Int,
      cap: Option[Double]): AnnJoin = (q, d, qn) =>
    VectorSearch.multiProbeKnnJoin(q, d, "embedding", "vec_id",
      Metric.Cosine, k = KnnJoinK, dim = EmbeddingDim, bits = bits, flips = 2,
      maxBucketFactor = cap, dataCountHint = Some(embCount(s, dir)),
      queriesCountHint = qn)

  /** A serving row: the ANN self-join over the whole corpus. */
  private def annServe(s: SparkSession, dir: String, ann: AnnJoin): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    ann(emb, emb, None).orderBy("query_id", "rank")
  }

  /** ANN recall evaluation ([[VectorSearch.knnJoin]] vs `ann`): per
    * sampled query (every `mod`-th vector), how many of the exact
    * top-[[KnnJoinK]] cosine neighbors the ANN join retrieves —
    * `recall_milli = (hits·1000) div k`. This certifies the recall
    * numbers LshSpec pins through the DuckDB oracle gate itself. The
    * exact side is sample×corpus, never corpus², so the eval stays
    * affordable at any scale while the ANN side is the serving plan
    * unchanged. Rows: q_ann_recall and q_ann_recall_capped
    * ([[RecallSampleMod]], [[RecallBits]] × [[RecallBands]], uncapped /
    * [[RecallCapFactor]]); q_ann_recall_capped_scaled and its `_b4`
    * bands-curve point ([[scaledEvalMod]], [[scaledLshBits]] ×
    * [[ScaledCapBands]] / [[ScaledCapBandsB4]], [[AnnCapFactor]]) —
    * differing ONLY in bands, so their recall delta is attributable to
    * bands alone; q_ann_recall_multiprobe_scaled (the capped multiprobe
    * serving config). */
  private def annRecall(s: SparkSession, dir: String, mod: Long,
      ann: AnnJoin): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % mod === 0)
    val exact = VectorSearch.knnJoin(queries, emb, "embedding", "vec_id",
      Metric.Cosine, k = KnnJoinK, excludeSelf = true,
      // sample x corpus ground truth: the bounded sample is collected and
      // broadcast, and each corpus partition keeps a k-heap per query, so
      // the corpus is read once, never moved, and no pair row is built -
      // the only orientation that survives 100 TB
      broadcastQueries = true)
      .select(col("query_id"), col("neighbor_id"))
    // the query side is ~N/mod by construction of the % filter
    val found = ann(queries, emb, Some(math.max(1L, embCount(s, dir) / mod)))
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(found, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__h"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("__h"), lit(0L)))
      .withColumn("recall_milli", expr("(n_hits * 1000) div n_exact"))
      .select("query_id", "n_exact", "n_hits", "recall_milli")
      .orderBy("query_id")
  }

  /** Oracle CTE for the corpus-side bucket cap: `kept` = the rows of
    * `rel` whose `key` group holds at most `cap`× the mean group size
    * (all rows when uncapped). */
  private def bucketCapSql(rel: String, key: String, cap: Option[Double]): String =
    cap.fold(s"kept AS (SELECT * FROM $rel)") { f =>
      s"""bs AS (SELECT $key, count(*) AS n FROM $rel GROUP BY ALL),
         |thr AS (SELECT avg(n) AS meanb FROM bs),
         |kept AS (
         |  SELECT r.* FROM $rel r JOIN bs USING ($key) CROSS JOIN thr
         |  WHERE CAST(bs.n AS DOUBLE) <= $f * thr.meanb)""".stripMargin
    }

  /** Sign-LSH projections of every normalized vector on the planes
    * `jj = band·bits + j + 1` as (vec, band, plane) ROWS, with `bits`
    * read from `params` at runtime — the closed-form weight
    * `((li·jj·7919) mod 193)/193 − 0.5` of [[Oracle.lshBucketBand]],
    * so fixture and count-sized rows replay through one chain. */
  private def lshProjSql(bands: Int): String = {
    val w = "(CAST((li * (b.band * pp.bits + j.j + 1) * 7919) % 193 AS DOUBLE) / 193.0 - 0.5)"
    val pr = Oracle.foldSum(
      s"list_transform(range(1, ${EmbeddingDim + 1}), li -> n.nemb[li] * $w)")
    s"""bx AS (SELECT unnest(range(0, $bands)) AS band),
       |jx AS (SELECT unnest(range(0, (SELECT bits FROM params))) AS j),
       |proj AS (
       |  SELECT n.vec_id, b.band, j.j, $pr AS pr
       |  FROM n, params pp, bx b, jx j)""".stripMargin
  }

  /** Oracle chain of [[multiband]]: band × bit bucketing, the optional
    * corpus-side cap, and the scored candidate pairs `p` for the query
    * rows matching `queries` (a predicate on `vec_id`). Needs
    * `params(bits)` in scope. */
  private def multibandSql(bands: Int, cap: Option[Double])(queries: String): String = {
    val score = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""${lshProjSql(bands)},
       |buck AS (
       |  SELECT vec_id, band,
       |         CAST(sum(CASE WHEN pr > 0.0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1, 2),
       |nb AS (
       |  SELECT bu.vec_id, n.nemb, bu.band, bu.bucket
       |  FROM buck bu JOIN n ON bu.vec_id = n.vec_id),
       |${bucketCapSql("nb", "band, bucket", cap)},
       |qb AS (SELECT * FROM nb WHERE $queries),
       |p AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, max($score) AS score
       |  FROM qb a JOIN kept b ON a.band = b.band AND a.bucket = b.bucket
       |                       AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Oracle chain of [[multiprobe]]: single-band bucketing, the two
    * lowest-|margin| flip bits by a skinny ROW_NUMBER window (abs ASC,
    * plane ASC — the engine's first-match argmin tie order), the
    * optional corpus-side cap, and the scored candidate pairs `p` for
    * the query rows matching `queries`. Needs `params(bits)` in scope. */
  private def multiprobeSql(cap: Option[Double])(queries: String): String = {
    val score = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""${lshProjSql(1)},
       |buck AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN pr > 0.0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1),
       |${bucketCapSql("buck", "bucket", cap)},
       |fr AS (
       |  SELECT vec_id, j,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY abs(pr) ASC, j ASC) AS rn
       |  FROM proj WHERE $queries),
       |fb AS (
       |  SELECT vec_id,
       |         CAST(max(CASE WHEN rn = 1 THEN (1 << j) END) AS BIGINT) AS bv1,
       |         CAST(max(CASE WHEN rn = 2 THEN (1 << j) END) AS BIGINT) AS bv2
       |  FROM fr GROUP BY 1),
       |qbk AS (SELECT * FROM buck WHERE $queries),
       |pq AS (
       |  SELECT vec_id, bucket AS probe FROM qbk
       |  UNION ALL
       |  SELECT b.vec_id, xor(b.bucket, f.bv1) FROM qbk b JOIN fb f USING (vec_id)
       |  UNION ALL
       |  SELECT b.vec_id, xor(b.bucket, f.bv2) FROM qbk b JOIN fb f USING (vec_id)),
       |cand AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id
       |  FROM pq q JOIN kept d ON q.probe = d.bucket AND q.vec_id <> d.vec_id
       |  GROUP BY 1, 2),
       |p AS (
       |  SELECT c.query_id, c.neighbor_id, $score AS score
       |  FROM cand c JOIN n a ON c.query_id = a.vec_id
       |            JOIN n b ON c.neighbor_id = b.vec_id)""".stripMargin
  }

  /** Oracle of [[annServe]]: `bits` is a SQL scalar (a literal, or a
    * count-derived sizing rule). */
  private def annServeSql(bits: String, ann: String => String): String =
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |params AS (SELECT $bits AS bits),
       |${ann("TRUE")},
       |$topKSql""".stripMargin

  /** Oracle of [[annRecall]]: `bits` and `mod` are SQL scalars. The
    * exact side computes the score in a projection CTE, so the
    * per-query top-k window carries 24-byte rows, never vectors. */
  private def annRecallSql(bits: String, mod: String, ann: String => String): String = {
    val score = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    val sample = "vec_id % (SELECT mod FROM params) = 0"
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |params AS (SELECT $bits AS bits, $mod AS mod),
       |q AS (SELECT * FROM n WHERE $sample),
       |exs AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $score AS s
       |  FROM q a CROSS JOIN n b WHERE a.vec_id <> b.vec_id),
       |ex AS (
       |  SELECT query_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY s DESC, neighbor_id ASC) AS rank
       |  FROM exs),
       |exk AS (SELECT query_id, neighbor_id FROM ex WHERE rank <= $KnnJoinK),
       |${ann(sample)},
       |annk AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY score DESC, neighbor_id ASC) AS rank
       |    FROM p) WHERE rank <= $KnnJoinK),
       |h AS (
       |  SELECT query_id, count(*) AS n_hits
       |  FROM exk JOIN annk USING (query_id, neighbor_id) GROUP BY 1)
       |SELECT e.query_id,
       |       CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(COALESCE(max(h.n_hits), 0) AS BIGINT) AS n_hits,
       |       CAST((COALESCE(max(h.n_hits), 0) * 1000) // count(*) AS BIGINT)
       |         AS recall_milli
       |FROM exk e LEFT JOIN h USING (query_id)
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
  }

  /** Split id for the incremental-index query: rows below are the
    * "existing" persisted index, rows at/above are the append batch.
    * 400 < every fixture's embedding count (500/500/2000), so both
    * sides are non-empty at every sf. */
  private val IndexSplitId = 400
  private val IndexBands = 4

  /** O12 batch analog (reference incremental `add`, ann.py:78-91): the
    * LSH index is a persisted (id, band, bucket) TABLE; appending rows
    * buckets ONLY the new rows and unions — no re-scan of the existing
    * corpus. The Spark side runs the genuine incremental path (split →
    * bucket existing → append the rest); the ORACLE replays a full
    * rebuild — their equality IS the O12 claim (per-row stateless
    * bucketing, unlike order-sensitive graph indexes). LshSpec pins the
    * same equality through a real parquet round-trip. */
  private def qIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val existing = emb.filter(col("vec_id") < IndexSplitId)
    val appended = emb.filter(col("vec_id") >= IndexSplitId)
    val persisted = VectorSearch.lshBucketTable(existing, "embedding", "vec_id",
      Metric.Cosine, EmbeddingDim, bits = LshMultiBits, bands = IndexBands)
    VectorSearch.lshIndexAppend(persisted, appended, "embedding", "vec_id",
      Metric.Cosine, EmbeddingDim, bits = LshMultiBits, bands = IndexBands)
      .select(col("vec_id"), col("band").cast("long").as("band"), col("bucket"))
      .orderBy("vec_id", "band")
  }

  private val qIndexAppendSql: String = {
    val branches = (0 until IndexBands).map { b =>
      s"SELECT vec_id, CAST($b AS BIGINT) AS band, " +
        s"CAST(${Oracle.lshBucketBand("nemb", EmbeddingDim, LshMultiBits, b)} AS BIGINT) AS bucket FROM n"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte}
       |$branches
       |ORDER BY vec_id, band""".stripMargin
  }

  /** Index-lifecycle COMPACTION ([[VectorSearch.compactIndex]]) — the
    * closing step of the index-as-data story (build → append → stream
    * → serve → COMPACT; VERDICT r7 missing #3): stage the persisted
    * LSH band index exactly as the append/stream path accumulates it
    * (initial build + two micro-batch-shaped appends, each written at
    * stream width so every append leaves its own small part files),
    * compact it into the band-partitioned one-file-per-band layout,
    * and declare the COMPACTED table's rows. The oracle is
    * q_index_append's full-rebuild replay — compacted == appended ==
    * rebuilt is precisely the claim that compaction rewrites LAYOUT,
    * never data. LshSpec pins the physical side (strictly fewer
    * files; band-restricted probes prune whole directories). */
  private def qIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val base = staged("index_compact", stagedKey(dir, "embeddings")) { b =>
      val frag = s"$b/frag"
      val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
      // each append is written 4-way-partitioned, the shape a
      // state-width micro-batch write leaves behind
      def slice(cond: org.apache.spark.sql.Column) =
        VectorSearch.lshBucketTable(emb.filter(cond), "embedding", "vec_id",
          Metric.Cosine, EmbeddingDim, bits = LshMultiBits, bands = IndexBands)
          .select(col("vec_id"), col("band").cast("long").as("band"),
            col("bucket"))
          .repartition(4)
      slice(col("vec_id") < IndexSplitId).write.parquet(frag)
      slice(col("vec_id") >= IndexSplitId && col("vec_id") % 2 === 0)
        .write.mode("append").parquet(frag)
      slice(col("vec_id") >= IndexSplitId && col("vec_id") % 2 === 1)
        .write.mode("append").parquet(frag)
      VectorSearch.compactIndex(s, frag, s"$b/compact")
    }
    // band comes back as a partition-directory column; re-type it to
    // the persisted index's BIGINT contract for the oracle compare
    s.read.parquet(s"$base/compact")
      .select(col("vec_id"), col("band").cast("long").as("band"), col("bucket"))
      .orderBy("vec_id", "band")
  }

  // layout-only rewrite: same full-rebuild oracle as q_index_append
  private def qIndexCompactSql: String = qIndexAppendSql

  /** Memoized IVF coarse centroids per fixture dir — the index-build
    * collect is one tiny job, but re-running it on every bench iteration
    * bills index build to query time; a real deployment stores centroids
    * with the index (like the [[VectorTable]] sidecar). */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Seq[Double])]]()

  /** Memoized `count(embeddings)` per fixture dir (VERDICT r16 #5: the
    * r16 re-attach branch added 1–2 sizing count() jobs per serving
    * ANN call, and the ~20 ANN rows each ALSO count the corpus for
    * bits/cells sizing — at sf0.1 that is pure fixed job overhead
    * repeated per row). The count is an index-build-time fact a real
    * deployment stores with the index (the [[centroidCache]]
    * rationale); keyed by dir + [[fixtureSig]] so an in-place fixture
    * rewrite re-counts. */
  private val embCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def embCount(s: SparkSession, dir: String): Long =
    embCountCache.computeIfAbsent(s"$dir#${fixtureSig(dir)}",
      _ => Tables.embeddings(s, dir).count())

  /** Fixture signature folded into every centroid/codebook cache key
    * (VERDICT r12 #4): the caches memoize per-DIRECTORY index
    * artifacts, so a fixture regenerated IN PLACE mid-session (a
    * ScaleUp rerun, a rewritten test fixture) must cache-MISS — a bare
    * `"$dir#$c"` key would serve every IVF-family row centroids built
    * from the old data. The signature is (name, length, mtime) of each
    * embeddings data file, hashed — one driver-side metadata listing,
    * no data read, so the memoization still saves the index-build job
    * it exists to save. */
  private[graft] def fixtureSig(dir: String): String = tableSig(dir, "embeddings")

  /** [[fixtureSig]] generalized to any fixture table (ADVICE r13: the
    * staleness guard must cover EVERY dir-keyed staged artifact, not
    * just the embedding-derived index caches — a regenerated
    * events/documents fixture must cache-miss the landing/publish dirs
    * exactly like a regenerated embeddings fixture misses the centroid
    * cache). */
  private[graft] def tableSig(dir: String, table: String): String = {
    val root = new java.io.File(s"$dir/$table.parquet")
    val files =
      if (root.isDirectory)
        Option(root.listFiles()).getOrElse(Array.empty).toSeq.filter(_.isFile)
      else Seq(root)
    val desc = files.sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(desc))
  }

  /** Cache key for a staged/published artifact derived from ONE fixture
    * table: dir + that table's [[tableSig]]. Every [[staged]] dir keys
    * on this (never the bare dir), so an in-place fixture rewrite
    * re-stages instead of serving stale parquet. */
  private def stagedKey(dir: String, table: String): String =
    s"$dir#${tableSig(dir, table)}"

  /** Every [[staged]] dir, keyed by `prefix#key`. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  // staged dirs are session-scoped: the keys live in memory, so a new
  // JVM re-stages anyway, and every harness writes its results out
  // before it exits
  sys.addShutdownHook(stagedDirs.values.forEach(p =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))))

  /** The build-once scratch dir `Tables.scratchPath(s"${prefix}_<uuid>")`
    * for `key` (a [[stagedKey]], plus any build parameters): the first
    * call per (prefix, key) runs `build` on the path, later calls just
    * return it. Rows that stage the same prefix and key share the dir.
    * `build` runs inside `computeIfAbsent` and must not call `staged`
    * itself (the map rejects a recursive update); no build does. */
  private def staged(prefix: String, key: String)(build: String => Unit): String =
    stagedDirs.computeIfAbsent(s"$prefix#$key", _ => {
      val p = Tables.scratchPath(s"${prefix}_${java.util.UUID.randomUUID()}")
      build(p)
      p
    })

  /** Cache key for [[centroidCache]]: fixture dir + cell count + the
    * staleness-guarding [[fixtureSig]]. */
  private def centroidKey(dir: String, c: Int): String =
    s"$dir#$c#${fixtureSig(dir)}"

  /** The first-`c` IVF coarse centroids of `emb` (the fixture's
    * `(vec_id, embedding)` frame), built once per [[centroidKey]]. */
  private def centroids(dir: String, emb: DataFrame, c: Int): Seq[(Long, Seq[Double])] =
    centroidCache.computeIfAbsent(centroidKey(dir, c),
      _ => VectorSearch.ivfCentroids(emb, "embedding", "vec_id", c, Metric.Cosine))

  /** Cell count of the fixture-constant IVF rows. */
  private val IvfCells = 16

  private val PqM = 8
  private val PqKsub = 16

  /** Memoized PQ codebooks per fixture dir — same rationale as
    * [[centroidCache]]: a real deployment stores codebooks with the
    * index. */
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[(Int, Seq[Double])]]]()

  /** Cache key for [[pqCodebookCache]]: fixture dir + the codebook
    * PARAMETERS + [[fixtureSig]] — the scaled PQ rows build
    * differently-sized codebooks over the same dir, so the parameters
    * must be part of the identity exactly like [[centroidKey]]'s cell
    * count. */
  private def pqCodebookKey(dir: String, ksub: Int): String =
    s"$dir#$PqM#$ksub#${fixtureSig(dir)}"

  /** The [[PqM]] × `ksub` first-rows PQ codebooks of `emb`, built once
    * per [[pqCodebookKey]]. */
  private def codebooks(dir: String, emb: DataFrame, ksub: Int): Seq[Seq[(Int, Seq[Double])]] =
    pqCodebookCache.computeIfAbsent(pqCodebookKey(dir, ksub), _ =>
      VectorSearch.pqCodebooks(emb, "embedding", "vec_id", PqM, ksub, Metric.Cosine))

  /** MIGRATION's IVF sizing rule `c ≈ √N` in the integer-exact form the
    * hash gate demands: `c = 2^ceil(bitLength(N)/2)` — the power-of-two
    * ceiling of √N (within 2× of it — the ratio sits in (1, 2], worst
    * exactly at N = 2^(2j), e.g. N=256 → c=32 = 2·√N), derived with
    * zero float math so DuckDB's `1 << ((length(bin(N)) + 1) // 2)`
    * lands on the identical value. Clamped to [16, 4096]: the floor
    * keeps tiny fixtures on the fixture-row shape, the cap bounds the
    * centroid broadcast (4096 × 64 doubles ≈ 2 MB, still model-sized).
    * See the sizing-rules note above [[scaledLshBits]]. */
  private[graft] def scaledIvfCells(n: Long): Int = {
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))
    math.max(16L, math.min(4096L, 1L << ((bitLen + 1) / 2))).toInt
  }

  private val ScaledIvfCellsSql =
    "(SELECT GREATEST(16, LEAST(4096, 1 << ((length(bin(GREATEST(1, count(*)))) + 1) // 2))) FROM embeddings)"

  /** Codebook-size rule of the scaled PQ rows: `ksub = min(64,
    * scaledIvfCells(N))` — per-subspace codebooks grow with the corpus
    * on the same curve as the IVF coarse cells, capped at 64 because
    * (a) sub-codes must pack into the ONE BIGINT the persisted code
    * table stores (6 bits × m=8 = 48 bits at the cap) and (b) the
    * per-row encode is m·ksub codegen kernels — 512 at the cap. */
  private[graft] def scaledPqKsub(n: Long): Int = math.min(64, scaledIvfCells(n))

  private val ScaledPqKsubSql = s"LEAST(64, $ScaledIvfCellsSql)"

  /** Oracle chain of IVF cell assignment over `n`: the first `cells`
    * vectors (a SQL scalar) are the centroids `cc`; `asgn(vec_id, cid,
    * rn)` holds each vector's `probes` best cells (score DESC, cid ASC)
    * and `da(vec_id, nemb, cid)` its home cell. Scores live in their own
    * projection CTE (`sca`), so the per-vector window never carries the
    * 512-byte vector (the skinny-window form that makes the N·c
    * assignment replayable at sf10). */
  private def ivfAssignSql(cells: String, probes: Int): String = {
    val assign = Oracle.dot("v.nemb", "c.cvec", EmbeddingDim)
    s"""cc AS (
       |  SELECT vec_id AS cid, nemb AS cvec FROM (
       |    SELECT vec_id, nemb, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |    FROM n)
       |  WHERE rn <= $cells),
       |sca AS (
       |  SELECT v.vec_id, c.cid, $assign AS s
       |  FROM n v CROSS JOIN cc c),
       |asgn AS MATERIALIZED (
       |  SELECT vec_id, cid, rn FROM (
       |    SELECT vec_id, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |                              ORDER BY s DESC, cid ASC) AS rn
       |    FROM sca) WHERE rn <= $probes),
       |da AS MATERIALIZED (
       |  SELECT v.vec_id, v.nemb, a.cid FROM n v
       |  JOIN asgn a ON a.vec_id = v.vec_id AND a.rn = 1)""".stripMargin
  }

  /** Oracle chain of PQ ADC scoring: first-`ksub` codebooks `cb` (a SQL
    * scalar), sub-code assignment of ONLY the rows in `cand(vec_id)`,
    * the normalized query `q` (vec_id 0), and the fixed-order ADC sum
    * `sc(vec_id, score)`. */
  private def pqAdcSql(ksub: String): String = {
    val w = EmbeddingDim / PqM
    val dist = Oracle.euclideanDistance(
      s"list_slice(v.nemb, gs.j * $w + 1, gs.j * $w + $w)",
      s"list_slice(c.nemb, gs.j * $w + 1, gs.j * $w + $w)", w)
    val subdot = Oracle.dot(
      s"list_slice(q.qemb, a.j * $w + 1, a.j * $w + $w)",
      s"list_slice(c.nemb, a.j * $w + 1, a.j * $w + $w)", w)
    s"""cb AS (
       |  SELECT CAST(rn - 1 AS BIGINT) AS code, nemb FROM (
       |    SELECT vec_id, nemb, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |    FROM n)
       |  WHERE rn <= $ksub),
       |d AS (
       |  SELECT v.vec_id, gs.j, c.code, $dist AS dist
       |  FROM n v JOIN cand USING (vec_id)
       |       CROSS JOIN cb c CROSS JOIN generate_series(0, ${PqM - 1}) gs(j)),
       |a AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |                              ORDER BY dist ASC, code ASC) AS rn
       |    FROM d) WHERE rn = 1),
       |q AS (SELECT nemb AS qemb FROM n WHERE vec_id = 0),
       |sub AS (
       |  SELECT a.vec_id, a.j, $subdot AS sd
       |  FROM a JOIN cb c ON a.code = c.code CROSS JOIN q),
       |sc AS (
       |  SELECT vec_id,
       |         list_reduce(list_prepend(0.0, list(sd ORDER BY j)),
       |                     (acc, x) -> acc + x) AS score
       |  FROM sub GROUP BY vec_id)""".stripMargin
  }

  /** North-star product quantization ([[VectorSearch.pqSearch]]): ADC
    * top-10 — the query scored against packed PQ codes instead of
    * 512-byte vectors (the FAISS-IVFPQ serving layout). Deterministic
    * first-`ksub`-rows-per-subspace codebooks keep the whole path
    * oracle-replayable. Rows: q_pq_search ([[PqKsub]]),
    * q_pq_search_scaled ([[scaledPqKsub]]). */
  private def pqSearch(s: SparkSession, dir: String, ksub: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cbs = codebooks(dir, emb, ksub)
    VectorSearch.pqSearch(emb, "embedding", "vec_id",
      queryVecFrame(s, dir), "qvec", cbs, K, Metric.Cosine)
  }

  private def pqSearchSql(ksub: String): String =
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |cand AS (SELECT vec_id FROM n),
       |${pqAdcSql(ksub)}
       |SELECT vec_id, score FROM sc
       |ORDER BY score DESC, vec_id ASC LIMIT $K""".stripMargin

  /** Probes for the IVF+PQ search rows: 2 of the cells — the same
    * routing budget as the IVF knn rows, composed with PQ's compressed
    * scan. */
  private val IvfPqProbes = 2

  /** Build-once read-many accessor for the persisted IVF+PQ index — the
    * [[centroidCache]] rationale taken to its conclusion: the whole
    * `(id, centroid_id, pq_code)` table IS the index artifact a real
    * deployment stores (partitioned by cell, so probe joins prune
    * unprobed cells to zero IO). The first call per fixture dir writes
    * the cell-partitioned parquet table; serving scans 16-byte code rows
    * and never re-runs the 128-kernel encode. The partition-column type
    * is declared, not inferred, so `centroid_id` stays BIGINT through
    * the round-trip (the oracle emits BIGINT). */
  private def ivfPqIndexFrame(
      s: SparkSession, dir: String, emb: DataFrame,
      centroids: Seq[(Long, Seq[Double])],
      cbs: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    // index identity = fixture data + BOTH index parameters (the scaled
    // rows persist a second index over the same dir)
    val key =
      s"${stagedKey(dir, "embeddings")}#c${centroids.length}#k${cbs.head.length}"
    val path = staged("ivfpq_index", key) { p =>
      VectorSearch.ivfPqIndexTable(emb, "embedding", "vec_id", centroids, cbs,
        Metric.Cosine)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(p)
    }
    s.read.schema("vec_id BIGINT, pq_code BIGINT, centroid_id BIGINT")
      .parquet(path)
  }

  /** Probe budget for the refined tier: 8 cells — the refine stage
    * removes quantization error, so routing coverage becomes the only
    * recall limiter and gets the bigger budget (IVF routes weakly on
    * this LSH-hard near-uniform fixture; real clustered embeddings need
    * far fewer probes for the same recall). */
  private val IvfPqRefineProbes = 8

  /** ADC candidate-pool size feeding the exact re-rank: 20× the final k
    * (the Jégou §V-C shortlist) — still a constant-size exact fetch at
    * any corpus scale. Together these measure recall 0.82@10 vs exact
    * on the fixture (LshSpec pins ≥ 0.8). */
  private val IvfPqRefineCandidates = 200

  /** Composed IVF+PQ search over the persisted index (the full
    * FAISS-IVFPQ serving path): coarse-quantizer routing to `nProbes`
    * of `c` cells, then ADC ranking over ONLY those cells' packed codes
    * ([[VectorSearch.ivfPqSearchIndexed]]; LshSpec pins its equality
    * with flat [[VectorSearch.pqSearch]] over the probed cells). With
    * `refine = Some(m)` the ADC pass nominates `m` candidates and only
    * those true vectors are re-scored exactly
    * ([[VectorSearch.ivfPqSearchRefined]]) — the near-exact serving
    * tier mirroring the reference's ANN-matches-bruteforce contract
    * (tests/test_v3_features.py:29-46). Rows: q_ivfpq_search /
    * q_ivfpq_refine at ([[IvfCells]], [[PqKsub]]), their `_scaled`
    * twins at ([[scaledIvfCells]], [[scaledPqKsub]]). */
  private def ivfPq(s: SparkSession, dir: String, c: Int, ksub: Int,
      nProbes: Int, refine: Option[Int]): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cents = centroids(dir, emb, c)
    val cbs = codebooks(dir, emb, ksub)
    val index = ivfPqIndexFrame(s, dir, emb, cents, cbs)
    refine.fold(
      VectorSearch.ivfPqSearchIndexed(index, "vec_id",
        queryVecFrame(s, dir), "qvec", cents, cbs,
        nProbes = nProbes, k = K, metric = Metric.Cosine)) { m =>
      VectorSearch.ivfPqSearchRefined(index,
        emb, "embedding", "vec_id", queryVecFrame(s, dir), "qvec",
        cents, cbs, nProbes = nProbes,
        nCandidates = m, k = K, metric = Metric.Cosine)
    }
  }

  private def ivfPqSql(cells: String, ksub: String, nProbes: Int,
      refine: Option[Int]): String = {
    val chain =
      s"""WITH ${Oracle.embeddingsCte},
         |${Oracle.normalizedCte},
         |${ivfAssignSql(cells, nProbes)},
         |qa AS (SELECT cid FROM asgn WHERE vec_id = 0),
         |cand AS (SELECT da.vec_id FROM da JOIN qa ON da.cid = qa.cid),
         |${pqAdcSql(ksub)}""".stripMargin
    refine.fold(
      s"""$chain
         |SELECT sc.vec_id, da.cid AS centroid_id, sc.score
         |FROM sc JOIN da ON sc.vec_id = da.vec_id
         |ORDER BY sc.score DESC, sc.vec_id ASC LIMIT $K""".stripMargin) { m =>
      s"""$chain,
         |short AS (
         |  SELECT vec_id FROM sc
         |  ORDER BY score DESC, vec_id ASC LIMIT $m)
         |SELECT v.vec_id, ${Oracle.dot("v.nemb", "q.qemb", EmbeddingDim)} AS score
         |FROM n v JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY score DESC, v.vec_id ASC LIMIT $K""".stripMargin
    }
  }

  /** Declared gate for the k-means quality path
    * ([[VectorSearch.ivfRefineCentroids]]): 2 Lloyd iterations over the
    * deterministic first-`c` seed must RAISE the spherical k-means
    * objective (mean cosine to assigned centroid) by > 0.01 — three
    * orders of magnitude above the refined means' last-bit
    * partition-order wobble, so the boolean is deterministic even
    * though the float centroids are not hash-stable (which is why the
    * hash-checked ANN queries keep first-c centroids). The oracle row
    * is the EXPECTED assertion; the Spark side measures it — if
    * refinement ever stops improving the objective, the driver sees a
    * hash mismatch. Measured margins (oRef − oInit): +0.079 at c=16 and
    * sf0.001; +0.098 at c=32 and sf0.001, +0.097 at sf0.01, +0.062 at
    * c=64 and sf0.1. Rows: q_ivf_refine_gate ([[IvfCells]]),
    * q_ivf_refine_gate_scaled ([[scaledIvfCells]]). Caveat (accepted):
    * the objectives collect at construction, so plan-guard sweeps see
    * only the final 1-row LocalTableScan — the refine subplans' shapes
    * are covered by LshSpec, not PlanAudit. */
  private def ivfRefineGate(s: SparkSession, dir: String, c: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val init = centroids(dir, emb, c)
    val refined = VectorSearch.ivfRefineCentroids(emb, "embedding", init,
      Metric.Cosine, iters = 2)
    val oInit = VectorSearch.ivfObjective(emb, "embedding", init, Metric.Cosine)
    val oRef = VectorSearch.ivfObjective(emb, "embedding", refined, Metric.Cosine)
    Seq((c.toLong, 2L, oRef > oInit + 0.01))
      .toDF("n_centroids", "iters", "improved")
  }

  private def ivfRefineGateSql(cells: String): String =
    s"""SELECT CAST($cells AS BIGINT) AS n_centroids, CAST(2 AS BIGINT) AS iters,
       |       TRUE AS improved""".stripMargin

  /** Similarity threshold for [[semanticDedup]]: within-cluster
    * max-lower-sim on the fixture spans ~0.06–0.49 (median 0.27), so
    * 0.3 exercises both keep and drop at every scale. */
  private val SemDedupTau = 0.3

  /** North-star semantic dedup ([[VectorSearch.semanticDedup]]):
    * SemDeDup-style cluster-then-prune over the embedding space — the
    * dedup family text hashing cannot catch — over `c` memoized
    * first-c cells. Rows: q_semantic_dedup ([[IvfCells]]),
    * q_semantic_dedup_scaled ([[scaledIvfCells]]: within-cluster pair
    * work stays ~N·√N-bounded along the scale curve instead of
    * N²/16). */
  private def semanticDedup(s: SparkSession, dir: String, c: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    VectorSearch.semanticDedup(emb, "embedding", "vec_id", Metric.Cosine,
      tau = SemDedupTau, c = c, centroids = Some(centroids(dir, emb, c)))
      .orderBy("vec_id")
  }

  private def semanticDedupSql(cells: String): String = {
    val sim = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |${ivfAssignSql(cells, 1)},
       |p AS (
       |  SELECT a.vec_id, max($sim) AS max_lower_sim
       |  FROM da a JOIN da b ON a.cid = b.cid AND b.vec_id < a.vec_id
       |  GROUP BY 1)
       |SELECT d.vec_id, d.cid AS centroid_id, p.max_lower_sim,
       |       (p.max_lower_sim IS NULL
       |        OR p.max_lower_sim <= CAST($SemDedupTau AS DOUBLE)) AS keep
       |FROM da d LEFT JOIN p ON d.vec_id = p.vec_id
       |ORDER BY d.vec_id""".stripMargin
  }

  /** Probes of the IVF knn rows: each query searches its 2 best cells. */
  private val AnnIvfProbes = 2

  /** Approximate batch knn via IVF (the second ANN scale path): `c`
    * deterministic first-c coarse centroids, per-row argmin assignment
    * with no shuffle, [[AnnIvfProbes]]-probe queries, bucket equi-join.
    * Rows: q_ann_ivf ([[IvfCells]]) and q_ann_ivf_scaled
    * ([[scaledIvfCells]]) — the fixed c = 16 does N²/16 pair work, the
    * shape the r9 sweep measured dying at sf10 (5·10⁹ pairs, 25 min
    * stuck), while the scaled c keeps per-query work at
    * nProbes·N/c ≈ 2√N rows, spread evenly across first-c-seeded
    * Voronoi cells. */
  private def annIvf(s: SparkSession, dir: String, c: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    VectorSearch.ivfKnnJoin(emb, emb, "embedding", "vec_id", Metric.Cosine,
      k = KnnJoinK, c = c, nProbes = AnnIvfProbes,
      centroids = Some(centroids(dir, emb, c)))
      .orderBy("query_id", "rank")
  }

  private def annIvfSql(cells: String): String = {
    val score = Oracle.dot("q.nemb", "d.nemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |${ivfAssignSql(cells, AnnIvfProbes)},
       |qa AS (
       |  SELECT v.vec_id, v.nemb, a.cid FROM n v
       |  JOIN asgn a ON a.vec_id = v.vec_id),
       |p AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, $score AS score
       |  FROM qa q JOIN da d ON q.cid = d.cid AND q.vec_id <> d.vec_id),
       |$topKSql""".stripMargin
  }

  // ------------------------------------------------------------ sketches ---

  private val ShingleK = 8
  private val MinhashM = 16
  private val MinhashBands = 4

  /** Oracle mirror of [[Sketches.shingles]]: the distinct character
    * k-shingles of `text` in first-occurrence order, as a list. */
  private def shinglesSql(text: String, k: Int): String =
    s"""list_distinct(list_transform(
       |           range(1, greatest(length($text) - ${k - 1}, 1) + 1),
       |           si -> substr($text, CAST(si AS INTEGER), $k)))""".stripMargin

  /** Oracle CTE `mh(doc_id, mh_0..mh_15)` mirroring
    * [[Sketches.minhashSignature]]: one [[Oracle.shingleHash]] per
    * shingle, then the m families by multiply-add with the SAME
    * constants [[Sketches.mixConstants]] inlines on the Spark side. */
  private val minhashCte: String = {
    val p = Sketches.MinhashPrime
    val mins = Sketches.mixConstants(MinhashM).zipWithIndex
      .map { case ((a, b), j) => s"min(($a * hm + $b) % $p) AS mh_$j" }
      .mkString(", ")
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id,
       |         unnest(${shinglesSql("text", ShingleK)}) AS shingle
       |  FROM documents),
       |hs AS MATERIALIZED (
       |  SELECT doc_id,
       |         ${Oracle.shingleHash("shingle")} AS hm
       |  FROM sh),
       |mh AS MATERIALIZED (SELECT doc_id, $mins FROM hs GROUP BY doc_id)""".stripMargin
  }

  /** Oracle mirror of [[Sketches.minhashBands]] over `mh`: CTE
    * `bands(doc_id, band, band_key)`, band b keyed by the md5 of its
    * `m / bands` comma-joined signature values. */
  private def minhashBandsSql(m: Int, bands: Int): String = {
    val rows = m / bands
    val selects = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"mh_${b * rows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws(',', $cols)) AS band_key FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""bands AS MATERIALIZED (
       |  $selects)""".stripMargin
  }

  /** Oracle mirror of the band self-join of [[Sketches.minhashCandidates]]
    * over the band relation `rel(doc_id, band, band_key)`: CTE
    * `cand(a_id, b_id, n_bands)`, each unordered pair once with its
    * shared-band count. */
  private def candSql(rel: String): String =
    s"""cand AS MATERIALIZED (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS n_bands
       |  FROM $rel a
       |  JOIN $rel b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** The family's candidate pairs at its operating point
    * ([[ShingleK]], [[MinhashM]], [[MinhashBands]]). */
  private def candidates(s: SparkSession, dir: String): DataFrame =
    Sketches.minhashCandidates(Tables.documents(s, dir), "doc_id", "text",
      k = ShingleK, m = MinhashM, bands = MinhashBands)

  /** Oracle mirror of [[candidates]]: CTEs up to `cand`. */
  private val candidatesSql: String =
    s"""$minhashCte,
       |${minhashBandsSql(MinhashM, MinhashBands)},
       |${candSql("bands")}""".stripMargin

  /** Connected components of the [[candidates]] graph with their sizes:
    * `(doc_id, component_id, csize)` for every doc with ≥1 candidate. */
  private def components(s: SparkSession, dir: String): DataFrame =
    Graph.componentSizes(Graph.connectedComponents(candidates(s, dir), "a_id", "b_id"))
      .select(col("id").as("doc_id"), col("component_id"), col("csize"))

  /** Oracle mirror of [[components]]: [[candidatesSql]], then the
    * transitive closure of `cand` by a recursive CTE (UNION dedups →
    * terminates); component id = min reachable vertex (incl. self via
    * `least`). CTE `comp(doc_id, component_id, csize)`; the query must
    * open with `WITH RECURSIVE`. */
  private val componentsSql: String =
    s"""$candidatesSql,
       |edges AS (
       |  SELECT a_id AS u, b_id AS v FROM cand
       |  UNION SELECT b_id, a_id FROM cand),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |labels AS (
       |  SELECT u AS doc_id, least(u, min(v)) AS component_id
       |  FROM reach GROUP BY u),
       |comp AS (
       |  SELECT doc_id, component_id,
       |         CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT) AS csize
       |  FROM labels)""".stripMargin

  /** Signature → bands of `docs` at the family's operating point. */
  private def minhashBandsOf(docs: DataFrame): DataFrame =
    Sketches.minhashBands(
      Sketches.minhashSignature(docs, "doc_id", "text", ShingleK, MinhashM),
      "doc_id", MinhashBands, MinhashM / MinhashBands)

  /** North-star MinHash: per-doc signature digest (pins the whole
    * shingle→minhash pipeline through one scalar per doc). */
  private def qMinhashSig(s: SparkSession, dir: String): DataFrame = {
    val sig = Sketches.minhashSignature(
      Tables.documents(s, dir), "doc_id", "text", ShingleK, MinhashM)
    val sigCols = (0 until MinhashM).map(j => col(s"mh_$j"))
    sig.select(col("doc_id"), md5(concat_ws(",", sigCols: _*)).as("sig"))
      .orderBy("doc_id")
  }

  private val qMinhashSigSql: String = {
    val cols = (0 until MinhashM).map(j => s"mh_$j").mkString(", ")
    s"""WITH $minhashCte
       |SELECT doc_id, md5(concat_ws(',', $cols)) AS sig
       |FROM mh ORDER BY doc_id""".stripMargin
  }

  /** North-star MinHash-LSH near-dup candidates: doc pairs sharing ≥1 of
    * 4 banded signature keys, with the shared-band count. */
  private def qNearDupMinhash(s: SparkSession, dir: String): DataFrame =
    candidates(s, dir).orderBy("a_id", "b_id")

  private val qNearDupMinhashSql: String =
    s"""WITH $candidatesSql
       |SELECT a_id, b_id, n_bands FROM cand ORDER BY a_id, b_id""".stripMargin

  /** North-star near-dup: the full LSH dedup pipeline — minhash band
    * candidates verified by exact embedding cosine. Replaces the round-2
    * label-blocked all-pairs (O((N/L)²) over L shuffle keys — the one
    * declared shape that died at 100×): candidates now come from
    * [[Sketches.minhashCandidates]] (collision-bounded, never N²), and
    * the vectors join in AFTER candidate pruning, so the pair stage
    * shuffles ids and band hashes, never embeddings. The declared query
    * emits every candidate's verified score; a production τ cut is a
    * downstream `WHERE` (the fixture's synthetic embeddings are
    * uncorrelated with text near-duplication, so a fixed τ would pin the
    * result to ~0 rows and gate nothing). */
  private def qNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val cand = candidates(s, dir)
    val n = Tables.embeddings(s, dir)
      .select(col("vec_id"), VF.l2Normalize(col("embedding")).as("nemb"))
    // The verify stage is the SERVING re-attach shape (MIGRATION "LSH
    // serving joins"): candidates are 24-byte scalar id pairs; a default
    // join would sort-merge them against the vector table — exchanging
    // the CANDIDATE volume by a_id and then again, vector attached
    // (~25M pairs × 536 B at sf10), by b_id. Broadcast each prepared
    // (id, vector) side while it fits the same 256 MB ceiling the
    // multiband joins use; above it the shuffled form returns, and the
    // candidate stage still never shuffles embeddings.
    val reattach = VectorSearch.reattachSide(_: DataFrame,
      embCount(s, dir), EmbeddingDim)
    cand
      .join(reattach(n.select(col("vec_id").as("a_id"), col("nemb").as("a_emb"))), "a_id")
      .join(reattach(n.select(col("vec_id").as("b_id"), col("nemb").as("b_emb"))), "b_id")
      .withColumn("score", VF.dot(col("a_emb"), col("b_emb")))
      .select("a_id", "b_id", "n_bands", "score")
      .orderBy("a_id", "b_id")
  }

  private val qNearDupPairsSql: String = {
    val score = Oracle.dot("na.nemb", "nb.nemb", EmbeddingDim)
    s"""WITH $candidatesSql,
       |${Oracle.embeddingsCte},
       |${Oracle.normalizedCte}
       |SELECT c.a_id, c.b_id, c.n_bands, $score AS score
       |FROM cand c
       |JOIN n na ON na.vec_id = c.a_id
       |JOIN n nb ON nb.vec_id = c.b_id
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** Bucket cap for [[qNeardupCapped]]: 5 keeps every organic near-dup
    * bucket in the driver fixtures (sizes 1–3 at sf0.01) while actually
    * dropping the over-dense ones (one size-6 and one size-8 bucket at
    * sf0.01; up to 64 at sf0.1; 631 in the sf1 scale fixture) — the
    * oracle row therefore certifies the DROP path, not just the
    * pass-through. */
  private val NeardupMaxBucket = 5

  /** Near-dup candidates under the production LSH bucket-size cap
    * ([[Sketches.minhashCandidatesCapped]]): over-dense (band, band_key)
    * buckets — boilerplate templates at corpus scale — are dropped
    * before the self-join, bounding each bucket's pair fan-out by cap²
    * BY CONSTRUCTION. The uncapped [[qNearDupMinhash]] stays declared as
    * ground truth; this row is the shape a 100 TB sweep actually runs. */
  private def qNeardupCapped(s: SparkSession, dir: String): DataFrame =
    Sketches.minhashCandidatesCapped(Tables.documents(s, dir), "doc_id", "text",
      k = ShingleK, m = MinhashM, bands = MinhashBands,
      maxBucket = NeardupMaxBucket)
      .orderBy("a_id", "b_id")

  private val qNeardupCappedSql: String =
    s"""WITH $minhashCte,
       |${minhashBandsSql(MinhashM, MinhashBands)},
       |bsz AS (SELECT band, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
       |kept AS (
       |  SELECT bands.doc_id, bands.band, bands.band_key
       |  FROM bands JOIN bsz USING (band, band_key)
       |  WHERE bsz.n <= $NeardupMaxBucket),
       |${candSql("kept")}
       |SELECT a_id, b_id, n_bands FROM cand ORDER BY a_id, b_id""".stripMargin

  /** Incremental near-dup — the ONLY near-dup shape that survives a
    * continuously-growing 100 TB corpus: the historical corpus's LSH
    * band table is persisted ONCE as an index artifact (the
    * [[ivfPqIndexFrame]] pattern applied to text), and each arriving
    * delta batch is shingled/minhashed/banded alone — O(delta), not
    * O(corpus) — then equi-joined against the persisted keys.
    * `broadcast(delta)` makes the join a zero-shuffle map-side probe of
    * the index scan: the corpus never re-shuffles, never re-hashes.
    * The fixture splits documents by `doc_id % 10` (0 = the arriving
    * batch, else = historical corpus); the oracle recomputes both sides
    * from scratch, certifying that the persisted-index path finds
    * exactly the pairs a full recompute would. Output: one row per
    * (new doc, corpus doc) band collision with the shared-band count —
    * the downstream Jaccard/cosine verify is [[qNearDupPairs]]'s stage. */
  private def qNeardupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val path = staged("band_index", stagedKey(dir, "documents")) { p =>
      minhashBandsOf(docs.filter(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(p)
    }
    val index = s.read.schema("doc_id BIGINT, band INT, band_key STRING")
      .parquet(path)
    val deltaBands = minhashBandsOf(docs.filter(col("doc_id") % 10 === 0))
      .select(col("doc_id").as("new_id"), col("band"), col("band_key"))
    index.join(broadcast(deltaBands), Seq("band", "band_key"))
      .groupBy(col("new_id"), col("doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("new_id", "corpus_id")
  }

  private val qNeardupIncrementalSql: String =
    s"""WITH $minhashCte,
       |${minhashBandsSql(MinhashM, MinhashBands)}
       |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
       |       CAST(count(*) AS BIGINT) AS n_bands
       |FROM bands a
       |JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
       |WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** North-star dedup clustering: connected components over the minhash
    * candidate pair graph ([[Graph.connectedComponents]]) — the stage
    * between near-dup PAIRS and keep-one GROUPS. Every doc that collided
    * with any other gets its transitive component's min doc_id as the
    * canonical id, plus the component size; keep-one dedup is then
    * `WHERE doc_id = component_id`. Each candidate partition is first
    * contracted by a local union-find, so the label rounds (O(log n),
    * five jobs each) shuffle the small contracted graph, not the pairs. */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    components(s, dir).orderBy("doc_id")

  private val qDedupClustersSql: String =
    s"""WITH RECURSIVE $componentsSql
       |SELECT doc_id, component_id, csize FROM comp ORDER BY doc_id""".stripMargin

  /** Keep-one-with-multiplicity dedup weighting — the training-data
    * practice after clustering (keep each duplicate cluster's canonical
    * doc, carry the cluster size as a sampling/loss weight so the kept
    * doc still represents its duplicates' mass; Lee et al. 2022 §4
    * discuss exactly this count-weighting alternative to hard removal).
    * One row per KEPT doc: cluster representatives (doc_id ==
    * component_id) with weight = cluster size, un-clustered docs with
    * weight 1. Scale shape: the component frame holds only docs that
    * collided in ≥1 LSH band — a small fraction of the corpus — so the
    * corpus-side left join shuffles ids only, and the weight column is
    * computed before the join (no corpus-wide window). */
  private def qClusterWeights(s: SparkSession, dir: String): DataFrame = {
    val comp = components(s, dir)
    Tables.documents(s, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .filter(col("component_id").isNull || col("component_id") === col("doc_id"))
      .select(col("doc_id"), coalesce(col("csize"), lit(1L)).as("weight"))
      .orderBy("doc_id")
  }

  private val qClusterWeightsSql: String =
    s"""WITH RECURSIVE $componentsSql
       |SELECT d.doc_id, CAST(COALESCE(c.csize, 1) AS BIGINT) AS weight
       |FROM documents d
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |WHERE c.doc_id IS NULL OR c.component_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val WinnowK = 8
  private val WinnowW = 8

  /** North-star document fingerprinting: winnowing (the MOSS rolling-hash
    * scheme) — positional k-gram hashes, per-window min with rightmost
    * tie-break, distinct selected (pos, hash) pairs. Any shared substring
    * of length ≥ k+w−1 = 15 shares a fingerprint row. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Sketches.fingerprint(Tables.documents(s, dir), "doc_id", "text",
      WinnowK, WinnowW)
      // The r17 in-array winnowing form has NO exchange between the
      // md5 chain and this ORDER BY, so the range partitioner's sample
      // pass would re-run the whole chain (pre-r17 it re-read the
      // distinct's shuffle files instead). Materialize the 24-byte
      // sketch rows once — in-query, recomputed every run, the
      // minhashCandidates precedent. eager=false (ADVICE r17): merely
      // CONSTRUCTING/explaining this frame (plan dumps, the all-queries
      // plan sweep in tests) must not execute the full winnowing job;
      // the checkpoint materializes when the query actually runs.
      .localCheckpoint(eager = false)
      .orderBy("doc_id", "fp_pos")

  private val qFingerprintSql: String = {
    val r = Sketches.WinnowPosRange
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_transform(
       |           range(1, greatest(length(text) - ${WinnowK - 1}, 1) + 1),
       |           si -> struct_pack(pos := si,
       |                             gram := substr(text, CAST(si AS INTEGER), $WinnowK)))) AS u
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
       |         ${Oracle.shingleHash("u.gram")} AS hm
       |  FROM g),
       |w AS (
       |  SELECT doc_id, min(hm * $r + (${r - 1} - pos)) OVER
       |           (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS key
       |  FROM h)
       |SELECT DISTINCT doc_id, CAST(key // $r AS BIGINT) AS fp_hash,
       |       CAST(${r - 1} - (key % $r) AS BIGINT) AS fp_pos
       |FROM w ORDER BY doc_id, fp_pos""".stripMargin
  }

  private val FpPairsMinShared = 3
  private val FpPairsMaxDf = 10

  /** Winnowing near-dup candidate pairs ([[Sketches.fingerprintPairs]]):
    * the MOSS join stage — docs sharing ≥ [[FpPairsMinShared]] surviving
    * fingerprints after boilerplate hashes (doc-freq > [[FpPairsMaxDf]])
    * are dropped; the per-hash pair fan-out is bounded by maxDocFreq²
    * like the LSH band join. Completes the dedup family: exact, minhash
    * LSH, simhash, Jaccard verify, embedding-cosine, segment-level, and
    * substring-localizing winnowing pairs. */
  private def qFingerprintPairs(s: SparkSession, dir: String): DataFrame =
    Sketches.fingerprintPairs(Tables.documents(s, dir), "doc_id", "text",
      WinnowK, WinnowW, FpPairsMinShared, FpPairsMaxDf)
      .orderBy("a_id", "b_id")

  private val qFingerprintPairsSql: String = {
    val r = Sketches.WinnowPosRange
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_transform(
       |           range(1, greatest(length(text) - ${WinnowK - 1}, 1) + 1),
       |           si -> struct_pack(pos := si,
       |                             gram := substr(text, CAST(si AS INTEGER), $WinnowK)))) AS u
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
       |         ${Oracle.shingleHash("u.gram")} AS hm
       |  FROM g),
       |w AS (
       |  SELECT doc_id, min(hm * $r + (${r - 1} - pos)) OVER
       |           (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS key
       |  FROM h),
       |fp AS (SELECT DISTINCT doc_id, key // $r AS fp_hash FROM w),
       |usable AS (
       |  SELECT fp_hash FROM fp GROUP BY fp_hash
       |  HAVING count(*) BETWEEN 2 AND $FpPairsMaxDf),
       |pruned AS (SELECT fp.* FROM fp JOIN usable USING (fp_hash))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(count(*) AS BIGINT) AS n_shared
       |FROM pruned a JOIN pruned b USING (fp_hash)
       |WHERE a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $FpPairsMinShared
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** North-star SimHash: 32-bit token-level sketch per doc (near-dups
    * differ in few bits; compare with bit_count(xor)). */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    Sketches.simhash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val qSimhashSql: String = {
    val high = "('8','9','a','b','c','d','e','f')"
    val sums = (0 until 32)
      .map(b => s"sum(CASE WHEN substr(h, ${b + 1}, 1) IN $high THEN 1 ELSE -1 END) AS s_$b")
      .mkString(", ")
    val bits = (0 until 32)
      .map(b => s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id, md5(unnest(${Oracle.tokens("text")})) AS h
       |  FROM documents),
       |s AS (SELECT doc_id, $sums FROM tk GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** North-star quality scoring: per-doc token/char heuristics + keep
    * flag. */
  private def qTextQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityMetrics(Tables.documents(s, dir), "doc_id", "text", "n_chars")
      .orderBy("doc_id")

  /** Oracle fragment: the quality keep-flag CASE over the `t` CTE's
    * (text, n_chars, toks) columns — shared by [[qTextQualitySql]] and
    * [[qCorpusPipelineSql]]. */
  private val qualityOkCaseSql: String = {
    val stops = TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""CASE WHEN length(toks) BETWEEN 5 AND 2000
       |                  AND (CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / length(toks)) BETWEEN 2.0 AND 12.0
       |                  AND (CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars) >= 0.6
       |                  AND (CAST(length(list_filter(toks, tk -> tk IN ($stops))) AS DOUBLE) / length(toks)) <= 0.5
       |             THEN 1 ELSE 0 END""".stripMargin
  }

  /** Oracle CTE `t(doc_id, text, n_chars, toks)`. */
  private val qualityToksCteSql: String =
    s"""t AS (
      |  SELECT doc_id, text, n_chars,
      |         ${Oracle.tokens("text")} AS toks
      |  FROM documents)""".stripMargin

  private val qTextQualitySql: String = {
    val stops = TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH $qualityToksCteSql
       |SELECT doc_id,
       |       CAST(length(toks) AS BIGINT) AS n_tokens,
       |       CAST(length(regexp_extract_all(text, '${TextOps.BpeTokenPattern}')) AS BIGINT) AS bpe_tokens,
       |       CAST(length(regexp_replace(text, ' ', '', 'g')) AS DOUBLE) / length(toks) AS mean_token_len,
       |       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / n_chars AS alpha_ratio,
       |       CAST(length(list_filter(toks, tk -> tk IN ($stops))) AS DOUBLE) / length(toks) AS stop_ratio,
       |       CAST($qualityOkCaseSql AS INTEGER) AS quality_ok
       |FROM t ORDER BY doc_id""".stripMargin
  }

  /** PII/boilerplate scrub ([[TextOps.scrub]]) certified per source:
    * two word-boundary redaction patterns applied in order, per-source
    * doc counts, changed-doc counts, total redactions and a 60-bit
    * md5 checksum of the scrubbed text (the [[qSourceRoundtrip]]
    * checksum idiom — proves byte-exact replacement, not just counts).
    * Patterns live in the Java-regex ∩ RE2 dialect so both engines
    * run them identically. */
  private def qScrubText(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextOps.scrub(docs, "text", ScrubPatterns)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_redactions") > 0).cast("long")).as("docs_changed"),
        sum("n_redactions").as("redactions_sum"),
        sum(Sketches.shingleHash(col("scrubbed"))).as("scrub_hash_sum"))
      .orderBy("source")
  }

  private val ScrubPatterns: Seq[(String, String)] =
    Seq("\\bcustomer\\b" -> "<pii>", "\\bkey\\b" -> "<pii>")

  private val qScrubTextSql: String = {
    val Seq((p1, r1), (p2, r2)) = ScrubPatterns
    s"""SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_changed,
       |       CAST(sum(hits) AS BIGINT) AS redactions_sum,
       |       CAST(sum(${Oracle.shingleHash("cleaned")}) AS BIGINT) AS scrub_hash_sum
       |FROM (
       |  SELECT source,
       |         length(regexp_extract_all(text, '$p1'))
       |           + length(regexp_extract_all(text, '$p2')) AS hits,
       |         regexp_replace(regexp_replace(text, '$p1', '$r1', 'g'),
       |                        '$p2', '$r2', 'g') AS cleaned
       |  FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  private val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** Lexical relevance: Okapi BM25 top-10 for a literal keyword query —
    * the retrieval modality the reference lacks; pairs with vector
    * search in [[qHybridSearch]]. Per-doc term scores fold in sorted
    * term order (plain double `sum` is partition-order-dependent). */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    Lexical.bm25TopK(Tables.documents(s, dir), "doc_id", "text", Bm25Terms, k = 10)

  private val qBm25Sql: String = bm25Cte(
    "SELECT doc_id, score FROM bm25 ORDER BY score DESC, doc_id LIMIT 10")

  /** [[bm25Cte]] with the RECURSIVE keyword, for compositions whose
    * trailing CTEs recurse (DuckDB requires it on the WITH). */
  private def bm25CteRecursive(finalSelect: String, docsRel: String): String =
    bm25Cte(finalSelect, docsRel).replaceFirst("^WITH ", "WITH RECURSIVE ")

  /** Shared BM25 CTE chain ending in relation `bm25(doc_id, score)`;
    * `finalSelect` completes the statement; `docsRel` is the corpus
    * relation (the serving stack restricts it to EMBEDDED docs, so
    * corpus stats match the indexed collection). Constants are inlined
    * from the SAME Scala doubles the Spark plan uses, operand order
    * mirrored literally (parity contract). */
  private def bm25Cte(
      finalSelect: String, docsRel: String = "documents"): String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val k1p1 = Bm25K1 + 1.0
    val oneMinusB = 1.0 - Bm25B
    s"""WITH t AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS toks FROM $docsRel),
       |ex AS (
       |  SELECT doc_id, CAST(length(toks) AS BIGINT) AS len, unnest(toks) AS tok FROM t),
       |tf AS (
       |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf, max(len) AS len
       |  FROM ex WHERE tok IN ($termList) GROUP BY doc_id, tok),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(length(toks)) AS BIGINT) AS tot FROM t),
       |ts AS (
       |  SELECT tf.doc_id, tf.tok,
       |         ln((CAST(s.n AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |           * (tf * CAST($k1p1 AS DOUBLE))
       |           / (tf + CAST($Bm25K1 AS DOUBLE)
       |                   * (CAST($oneMinusB AS DOUBLE)
       |                      + CAST($Bm25B AS DOUBLE) * len / (CAST(s.tot AS DOUBLE) / s.n))) AS sc
       |  FROM tf JOIN dfq USING (tok) CROSS JOIN stats s),
       |bm25 AS (
       |  SELECT doc_id,
       |         list_reduce(list_prepend(0.0, list(sc ORDER BY tok)), (acc, x) -> acc + x) AS score
       |  FROM ts GROUP BY doc_id)
       |$finalSelect""".stripMargin
  }

  private val HybridK = 10
  private val RrfC = 60

  /** Hybrid retrieval: reciprocal-rank fusion of the VECTOR text search
    * (arithmetic embedding of [[RagQueryText]], cosine top-10 over
    * embeddings, doc ids == vec ids) with the LEXICAL BM25 top-10 for
    * the same words — the standard two-modality serving stack, fused at
    * rank level so no score normalization is needed. Ranks are exact
    * ints; contributions `1/(c+rank)` fold in sorted order. */
  private def qHybridSearch(s: SparkSession, dir: String): DataFrame = {
    // unpartitioned window — intentional: it ranks a result ALREADY cut
    // to HybridK(=10) rows by topK/bm25TopK, so the single-partition
    // WindowExec (and its log warning) touches k rows, not the corpus
    val wVec = Window.orderBy(desc("score"), asc("doc_id"))
    val vec = VectorSearch.topK(
      Tables.embeddings(s, dir).select("vec_id", "embedding"),
      "embedding", "vec_id",
      textQueryFrame(s), "qvec", Metric.Cosine, HybridK)
      .select(col("vec_id").as("doc_id"), col("score"))
      .withColumn("rank", row_number().over(wVec).cast("long"))
    val lex = Lexical.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      Bm25Terms, HybridK)
      .withColumn("rank", row_number().over(wVec).cast("long"))
    Lexical.rrfFuse(Seq(vec, lex), "doc_id", RrfC, HybridK)
  }

  private lazy val qHybridSearchSql: String = {
    val score = Oracle.dot("n.nemb", "q.qemb", EmbeddingDim)
    bm25Cte(
      s""", ${Oracle.embeddingsCte},
         |${Oracle.normalizedCte},
         |$textQueryCte,
         |vtop AS (
         |  SELECT n.vec_id AS doc_id, $score AS score
         |  FROM n CROSS JOIN q
         |  ORDER BY score DESC, doc_id ASC LIMIT $HybridK),
         |vrank AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM vtop),
         |ltop AS (
         |  SELECT doc_id, score FROM bm25
         |  ORDER BY score DESC, doc_id ASC LIMIT $HybridK),
         |lrank AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM ltop),
         |contrib AS (
         |  SELECT doc_id, CAST(1.0 AS DOUBLE) / ($RrfC + rank) AS contrib FROM vrank
         |  UNION ALL
         |  SELECT doc_id, CAST(1.0 AS DOUBLE) / ($RrfC + rank) AS contrib FROM lrank),
         |fused AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(0.0, list(contrib ORDER BY contrib)),
         |                     (acc, x) -> acc + x) AS rrf
         |  FROM contrib GROUP BY doc_id)
         |SELECT doc_id, rrf FROM fused
         |ORDER BY rrf DESC, doc_id ASC LIMIT $HybridK""".stripMargin)
  }

  private val FunnelSteps = Seq("view", "click", "purchase")
  private val FunnelWindowDays = 7

  /** K-step first-touch funnel ([[Temporal.funnelCounts]]):
    * view → click → purchase within 7 days of the first view — each
    * stage the min qualifying timestamp, counts non-increasing by
    * construction. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    Temporal.funnelCounts(Tables.events(s, dir), "user_id", "ts", "event_type",
      FunnelSteps, FunnelWindowDays)

  private val qFunnelSql: String =
    s"""WITH s1 AS (
       |  SELECT user_id, min(ts) AS t0, min(ts) AS t
       |  FROM events WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (
       |  SELECT e.user_id, min(s1.t0) AS t0, min(e.ts) AS t
       |  FROM events e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = 'click' AND e.ts >= s1.t
       |    AND e.ts <= s1.t0 + INTERVAL $FunnelWindowDays DAY
       |  GROUP BY 1),
       |s3 AS (
       |  SELECT e.user_id, min(s2.t0) AS t0, min(e.ts) AS t
       |  FROM events e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t
       |    AND e.ts <= s2.t0 + INTERVAL $FunnelWindowDays DAY
       |  GROUP BY 1)
       |SELECT CAST(1 AS BIGINT) AS step_index, 'view' AS step,
       |       (SELECT count(*) FROM s1) AS n_users
       |UNION ALL
       |SELECT 2, 'click', (SELECT count(*) FROM s2)
       |UNION ALL
       |SELECT 3, 'purchase', (SELECT count(*) FROM s3)
       |ORDER BY step_index""".stripMargin

  /** Last-touch revenue attribution: every purchase attributed to the
    * user's latest at-or-before non-purchase event via [[Temporal
    * .asofJoin]] (union + running-last window — ONE user shuffle, no
    * per-key cartesian), then value summed per touch type in exact
    * milli-units. The oracle replays the documented (ts, id) tie-break
    * with a correlated top-1. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        floor(col("value") * 1000).cast("long").as("value_milli"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    Temporal.asofJoin(purchases, touches, "user_id", "ts", "event_id")
      .groupBy(coalesce(col("asof_event_type"), lit("unattributed"))
        .as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum("value_milli").as("value_milli_sum"))
      .orderBy("touch_type")
  }

  private val qAttributionSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, CAST(floor(value * 1000) AS BIGINT) AS value_milli
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts, event_id, event_type
      |  FROM events WHERE event_type <> 'purchase'),
      |att AS (
      |  SELECT p.value_milli,
      |         COALESCE((SELECT t.event_type FROM t
      |                   WHERE t.user_id = p.user_id AND t.ts <= p.ts
      |                   ORDER BY t.ts DESC, t.event_id DESC LIMIT 1),
      |                  'unattributed') AS touch_type
      |  FROM p)
      |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(value_milli) AS BIGINT) AS value_milli_sum
      |FROM att GROUP BY 1 ORDER BY 1""".stripMargin

  /** Burst detection ([[Streaming.burstDetect]]): 6-hour tumbling
    * windows per event type, flagged when 3·count > 2·trailing-3-sum —
    * division-free integer alerting over the aggregated frame. */
  private def qBurstDetect(s: SparkSession, dir: String): DataFrame =
    Streaming.burstDetect(Tables.events(s, dir))
      .orderBy("event_type", "window_start_epoch")

  /** The STREAMING FACE of burst detection, executed for real under the
    * gate — the documented streaming-agg + batch-alerting split
    * ([[Streaming.burstFlags]]'s scaladoc): window functions cannot run
    * inside a streaming query, so the alerting architecture is a
    * streamed windowed aggregation whose emitted window-count table
    * feeds the batch trailing-window flag pass. NOTE on state (ADVICE
    * r7): this row drains in `complete` output mode, which retains
    * EVERY window in the state store for the stream's lifetime — the
    * watermark is inert here, kept only so the plan matches the
    * production shape. The streamed==batch equality below relies on
    * exactly that retention (the memory sink holds the full count
    * table). The watermark-BOUNDED production variant is append mode
    * over the same aggregation (only finalized windows emitted, state
    * evicted past the watermark); complete mode is the right gate
    * shape because the flag pass needs all windows in one table.
    * StreamingSpec pins streamed counts == batch counts; this row
    * certifies the composed path end to end against the SAME oracle as
    * the all-batch q_burst_detect — streamed-then-flagged must equal
    * batch-detected exactly. */
  private def qStreamBurst(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "events")
    val sink = s"q_stream_burst_sink_${math.abs(dir.hashCode)}"
    if (s.catalog.tableExists(sink)) s.catalog.dropTempView(sink)
    drainStream(s, "q_stream_burst", streamWidth(8)) {
      Streaming.windowedCounts(
          Streaming.eventsStream(s, landing),
          windowDur = "6 hours", watermark = Some("1 hour"))
        .writeStream
        .format("memory")
        .queryName(sink)
        .outputMode("complete")
    }
    Streaming.burstFlags(s.table(sink))
      .orderBy("event_type", "window_start_epoch")
  }

  // streamed-then-flagged must equal the all-batch detector bit-for-bit
  private def qStreamBurstSql: String = qBurstDetectSql

  private val qBurstDetectSql: String =
    """WITH c AS (
      |  SELECT event_type,
      |         CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS window_start_epoch,
      |         CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |w AS (
      |  SELECT *,
      |         sum(n_events) OVER (PARTITION BY event_type ORDER BY window_start_epoch
      |                             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS psum,
      |         count(*) OVER (PARTITION BY event_type ORDER BY window_start_epoch
      |                        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pn
      |  FROM c)
      |SELECT event_type, window_start_epoch, n_events,
      |       CAST(COALESCE(psum, 0) AS BIGINT) AS prev_sum,
      |       (pn = 3 AND n_events * 3 > psum * 2) AS is_burst
      |FROM w ORDER BY 1, 2""".stripMargin

  private val RetentionWeeks = 8

  /** Weekly retention cohorts ([[Temporal.retentionCohorts]]): users by
    * first-event ISO week, distinct-active per (cohort, offset) for
    * offsets 0–7. */
  private def qRetention(s: SparkSession, dir: String): DataFrame =
    Temporal.retentionCohorts(Tables.events(s, dir), "user_id", "ts",
      RetentionWeeks)

  private val qRetentionSql: String =
    s"""WITH f AS (
       |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
       |  FROM events GROUP BY 1),
       |a AS (
       |  SELECT e.user_id, f.cohort_week,
       |         datediff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
       |           AS week_offset
       |  FROM events e JOIN f USING (user_id))
       |SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       |       CAST(week_offset AS BIGINT) AS week_offset,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
       |FROM a WHERE week_offset >= 0 AND week_offset < $RetentionWeeks
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val ZBuckets = 16

  /** Z-order layout statistics ([[Layout.zorderStats]]): orders
    * interleaved on (custkey, order-day), split into 16 exact-bound
    * z-slices, per-slice min/max — the data-skipping stats a lakehouse
    * `OPTIMIZE ZORDER` write would collect. LayoutSpec pins the payoff
    * (both columns' bucket spans shrink vs a linear sort). */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame =
    Layout.zorderStats(
      Tables.orders(s, dir).select(col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).as("o_days")),
      "o_custkey", "o_days", ZBuckets)

  private val qZorderLayoutSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey AS rid, CAST(o_custkey AS BIGINT) AS a,
       |         CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS b
       |  FROM orders),
       |bounds AS (
       |  SELECT min(a) AS alo, max(a) AS ahi, min(b) AS blo, max(b) AS bhi
       |  FROM o),
       |nrm AS (
       |  SELECT rid, a, b,
       |         CASE WHEN ahi = alo THEN 0
       |              ELSE ((a - alo) * 65535) // (ahi - alo) END AS a16,
       |         CASE WHEN bhi = blo THEN 0
       |              ELSE ((b - blo) * 65535) // (bhi - blo) END AS b16
       |  FROM o CROSS JOIN bounds),
       |zz AS (
       |  SELECT rid, a, b,
       |         CAST(sum((((a16 >> g.i) & 1) << (2 * g.i))
       |                  + (((b16 >> g.i) & 1) << (2 * g.i + 1))) AS BIGINT) AS z
       |  FROM nrm CROSS JOIN generate_series(0, 15) g(i)
       |  GROUP BY rid, a, b),
       |bk AS (SELECT a, b, (z * $ZBuckets) // 4294967296 AS bucket FROM zz)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       |       min(a) AS a_min, max(a) AS a_max,
       |       min(b) AS b_min, max(b) AS b_max
       |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin

  private val MmrN = 50
  private val MmrK = 10
  private val MmrLambda = 0.7

  /** MMR-diversified retrieval ([[Diversify.mmrSelect]]): cosine top-50
    * for the vec-0 query, greedily re-picked down to 10 by
    * `λ·rel − (1−λ)·max-sim-to-selected`. The oracle replays the greedy
    * loop as a recursive CTE; `1−λ` is inlined from the SAME Scala
    * double (the binary value of `1.0 - 0.7` is NOT the literal 0.3 —
    * the bm25 constant-inlining contract). */
  private def qMmrDiversify(s: SparkSession, dir: String): DataFrame =
    Diversify.mmrSelect(s,
      Tables.embeddings(s, dir).select("vec_id", "embedding"),
      "embedding", "vec_id", queryVecFrame(s, dir), "qvec",
      Metric.Cosine, n = MmrN, k = MmrK, lambda = MmrLambda)

  private val qMmrDiversifySql: String = {
    val rel = Oracle.dot("n.nemb", "q.qemb", EmbeddingDim)
    val sim = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    val oneMinusL = 1.0 - MmrLambda
    s"""WITH RECURSIVE ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |q AS (SELECT nemb AS qemb FROM n WHERE vec_id = 0),
       |cand AS (
       |  SELECT n.vec_id AS id, $rel AS rel
       |  FROM n CROSS JOIN q
       |  ORDER BY rel DESC, id ASC LIMIT $MmrN),
       |sim AS (
       |  SELECT ca.id AS i, cb.id AS j, $sim AS s
       |  FROM cand ca JOIN n a ON a.vec_id = ca.id
       |       JOIN cand cb ON cb.id <> ca.id JOIN n b ON b.vec_id = cb.id),
       |pick(step, sel) AS (
       |  SELECT 1, [ (SELECT id FROM cand ORDER BY rel DESC, id LIMIT 1) ]
       |  UNION ALL
       |  SELECT step + 1,
       |    list_append(sel, (
       |      SELECT c.id FROM cand c
       |      WHERE NOT list_contains(sel, c.id)
       |      ORDER BY CAST($MmrLambda AS DOUBLE) * c.rel
       |               - CAST($oneMinusL AS DOUBLE)
       |                 * (SELECT max(s.s) FROM sim s
       |                    WHERE s.i = c.id AND list_contains(sel, s.j)) DESC,
       |               c.id
       |      LIMIT 1))
       |  FROM pick WHERE step < $MmrK)
       |SELECT u.id AS vec_id, c.rel, CAST(u.r AS BIGINT) AS mmr_rank
       |FROM (SELECT unnest(sel) AS id, generate_subscripts(sel, 1) AS r
       |      FROM pick WHERE step = $MmrK) u
       |JOIN cand c ON c.id = u.id
       |ORDER BY mmr_rank""".stripMargin
  }

  private val PairsHardStart = 6
  private val PairsNHard = 5
  private val PairsNRandom = 5

  /** Anchor density of q_contrastive_pairs: every 10th vector. */
  private val PairsAnchorMod = 10

  /** Contrastive training pairs ([[Contrastive.minePairs]], the DPR
    * recipe): anchors are every `mod`-th vector; the positive is the
    * nearest neighbor, hard negatives are retrieval ranks 6–10 (the
    * gap at 2–5 avoids mislabeling borderline near-dups), random
    * negatives are hash-mod ids with self/positive collisions
    * filtered. Rows: q_contrastive_pairs ([[PairsAnchorMod]]: anchors a
    * corpus FRACTION, N²/10 retrieval work) and
    * q_contrastive_pairs_scaled ([[scaledEvalMod]]: a FIXED-COUNT
    * ~1000-anchor sample at any corpus size, so the exact retrieval
    * side stays anchors×corpus). `broadcastAnchors` is the scaled row's
    * plan choice — a bounded anchor sample is exactly the case it
    * exists for (sf10, r16: default orientation 137.1s vs broadcast
    * 94.6s); the fixture row keeps the default orientation. */
  private def contrastivePairs(s: SparkSession, dir: String, mod: Long,
      broadcastAnchors: Boolean): DataFrame =
    Contrastive.minePairs(
      Tables.embeddings(s, dir).select("vec_id", "embedding"),
      "embedding", "vec_id", Metric.Cosine,
      anchorFilter = col("vec_id") % mod === 0,
      nPos = 1, hardStart = PairsHardStart, nHard = PairsNHard,
      nRandom = PairsNRandom, broadcastAnchors = broadcastAnchors)
      .orderBy("anchor_id", "pair_type", "pair_rank")

  /** Oracle of [[contrastivePairs]]; `mod` is a SQL scalar. */
  private def contrastivePairsSql(mod: String): String = {
    val score = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    val hardEnd = PairsHardStart + PairsNHard - 1
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |p AS (
       |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id, $score AS score
       |  FROM n a CROSS JOIN n b
       |  WHERE a.vec_id % $mod = 0 AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT anchor_id, neighbor_id,
       |         ROW_NUMBER() OVER (PARTITION BY anchor_id
       |                            ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM p),
       |pos AS (SELECT anchor_id, neighbor_id, rank FROM r WHERE rank <= 1),
       |hard AS (SELECT anchor_id, neighbor_id, rank FROM r
       |         WHERE rank BETWEEN $PairsHardStart AND $hardEnd),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |rnd AS (
       |  SELECT a.anchor_id,
       |         ${Oracle.md5Long("CAST(a.anchor_id AS VARCHAR) || ':' || CAST(g.j AS VARCHAR)")} % cnt.n AS other_id,
       |         g.j
       |  FROM pos a CROSS JOIN cnt
       |       CROSS JOIN generate_series(1, $PairsNRandom) g(j)),
       |rndf AS (
       |  SELECT r.anchor_id, r.other_id, r.j
       |  FROM rnd r JOIN pos p ON r.anchor_id = p.anchor_id
       |  WHERE r.other_id <> r.anchor_id AND r.other_id <> p.neighbor_id),
       |allp AS (
       |  SELECT anchor_id, neighbor_id AS other_id, 'positive' AS pair_type,
       |         CAST(rank AS BIGINT) AS pair_rank FROM pos
       |  UNION ALL
       |  SELECT anchor_id, neighbor_id,
       |         'hard_negative', CAST(rank - ${PairsHardStart - 1} AS BIGINT) FROM hard
       |  UNION ALL
       |  SELECT anchor_id, other_id, 'random_negative', CAST(j AS BIGINT) FROM rndf)
       |SELECT anchor_id, other_id, pair_type, pair_rank FROM allp
       |ORDER BY anchor_id, pair_type, pair_rank""".stripMargin
  }

  private val BloomM = 4096
  private val BloomK = 5

  /** Bloom prefilter before a join ([[Sketches.bloomBuild]]): the build
    * side (every 7th customer) compresses to ≤4096 set bits, the probe
    * side (orders) tests membership as a per-row zero-shuffle
    * projection, and only maybe-members need the real join — the
    * pre-join corpus cut AQE's runtime filters automate, here explicit,
    * deterministic and mergeable. Output pivots (maybe, exact) counts:
    * the absent (false, true) row IS the no-false-negative guarantee,
    * oracle-checked; (true, false) counts the tunable fp leak. */
  private def qBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val build = Tables.customer(s, dir)
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("key"))
    val bloom = Sketches.bloomCollect(
      Sketches.bloomBuild(build, "key", BloomM, BloomK))
    Tables.orders(s, dir).select(col("o_custkey"))
      .withColumn("maybe_match",
        Sketches.bloomMaybeContains(col("o_custkey"), bloom, BloomM, BloomK))
      .join(broadcast(build.withColumn("__m", lit(1))),
        col("o_custkey") === col("key"), "left")
      .withColumn("exact_match", col("__m").isNotNull)
      .groupBy("maybe_match", "exact_match")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("maybe_match", "exact_match")
  }

  private val qBloomPrefilterSql: String = {
    def h(col: String, off: Int) =
      s"CAST('0x' || substr(md5(CAST($col AS VARCHAR)), $off, 15) AS BIGINT) % $BloomM"
    s"""WITH bkeys AS (
       |  SELECT c_custkey AS key FROM customer WHERE c_custkey % 7 = 0),
       |bh AS (SELECT key, ${h("key", 1)} AS h1, ${h("key", 16)} AS h2 FROM bkeys),
       |bits AS (
       |  SELECT DISTINCT (h1 + g.i * h2) % $BloomM AS bit
       |  FROM bh CROSS JOIN generate_series(0, ${BloomK - 1}) g(i)),
       |ph AS (
       |  SELECT o_orderkey, o_custkey,
       |         ${h("o_custkey", 1)} AS h1, ${h("o_custkey", 16)} AS h2
       |  FROM orders),
       |pm AS (
       |  SELECT o_orderkey, o_custkey,
       |         bool_and((h1 + g.i * h2) % $BloomM IN (SELECT bit FROM bits))
       |           AS maybe_match
       |  FROM ph CROSS JOIN generate_series(0, ${BloomK - 1}) g(i)
       |  GROUP BY 1, 2),
       |fl AS (
       |  SELECT pm.o_orderkey, pm.maybe_match, (bk.key IS NOT NULL) AS exact_match
       |  FROM pm LEFT JOIN bkeys bk ON pm.o_custkey = bk.key)
       |SELECT maybe_match, exact_match, CAST(count(*) AS BIGINT) AS n_orders
       |FROM fl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private val RerankN = 50
  private val RerankK = 10

  /** Two-stage retrieve-then-rerank ([[Rerank.bm25ThenRerank]]): BM25
    * cuts the corpus to 50 candidates, a deterministic cross-encoder
    * stub re-scores ONLY those 50 (query, text) pairs, top-10 wins —
    * the standard serving stack whose second-stage cost is
    * candidate-bounded, not corpus-bounded. Output keeps the stage-1
    * rank so rank movement is auditable. */
  private def qRerank(s: SparkSession, dir: String): DataFrame =
    Rerank.bm25ThenRerank(Tables.documents(s, dir), "doc_id", "text",
      Bm25Terms, RagQueryText, n = RerankN, k = RerankK)

  private val qRerankSql: String = bm25Cte(
    s""", cand AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
       |           AS stage1_rank
       |  FROM (SELECT doc_id, score FROM bm25
       |        ORDER BY score DESC, doc_id ASC LIMIT $RerankN)),
       |ce AS (
       |  SELECT c.doc_id, c.stage1_rank,
       |         CAST(${Oracle.md5Long(s"'$RagQueryText' || chr(1) || d.text")} AS DOUBLE)
       |              / 1152921504606846976.0 AS ce_score
       |  FROM cand c JOIN documents d ON c.doc_id = d.doc_id)
       |SELECT doc_id, stage1_rank, ce_score FROM ce
       |ORDER BY ce_score DESC, doc_id ASC LIMIT $RerankK""".stripMargin)

  /** Within-document repetition (C4/Gopher-style degenerate-text
    * filters): duplicate token-bigram fraction and most-common-token
    * fraction, as exact integer milli-fractions. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionMetrics(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  // top_token_n is an exact integer, so the oracle may compute it any
  // correct way — unnest + count here, sort + run-length scan on the
  // Spark side (float parity rules don't apply to integer outputs).
  private val qRepetitionSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, ${Oracle.tokens("text")} AS toks FROM documents),
      |tt AS (
      |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_token_n FROM (
      |    SELECT doc_id, count(*) AS c FROM (
      |      SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
      |  GROUP BY doc_id),
      |b AS (
      |  SELECT doc_id,
      |         CAST(length(toks) AS BIGINT) AS n_tokens,
      |         list_transform(range(1, length(toks)), bi -> toks[bi] || ' ' || toks[bi + 1]) AS bigrams
      |  FROM t)
      |SELECT b.doc_id, n_tokens,
      |       CAST(length(bigrams) AS BIGINT) AS n_bigrams,
      |       CAST(length(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
      |       CAST(CASE WHEN length(bigrams) > 0
      |                 THEN ((length(bigrams) - length(list_distinct(bigrams))) * 1000) // length(bigrams)
      |                 ELSE 0 END AS BIGINT) AS dup_bigram_milli,
      |       top_token_n,
      |       CAST((top_token_n * 1000) // n_tokens AS BIGINT) AS top_token_milli
      |FROM b JOIN tt ON b.doc_id = tt.doc_id ORDER BY b.doc_id""".stripMargin

  /** North-star language-ID heuristic: marker-word scores per candidate
    * language, argmax per doc, reported as a (lang, predicted, n)
    * confusion matrix against the fixture's lang column. */
  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pred = TextOps.langId(docs, "doc_id", "text")
    docs.select("doc_id", "lang").join(pred, "doc_id")
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  private val qLangIdSql: String = {
    val hitCols = TextOps.LangMarkers.map { case (lang, markers) =>
      val set = markers.map(w => s"'$w'").mkString(", ")
      s"CAST(length(list_filter(${Oracle.tokens("text")}, tk -> tk IN ($set))) AS BIGINT) AS h_$lang"
    }.mkString(",\n         ")
    val unions = TextOps.LangMarkers.map { case (lang, _) =>
      s"SELECT doc_id, lang, '$lang' AS cand, h_$lang AS hits FROM h"
    }.mkString("\n  UNION ALL ")
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |         $hitCols
       |  FROM documents),
       |sc AS (
       |  $unions),
       |p AS (
       |  SELECT doc_id, lang, cand,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand ASC) AS rn
       |  FROM sc)
       |SELECT lang, cand AS predicted, CAST(count(*) AS BIGINT) AS n
       |FROM p WHERE rn = 1
       |GROUP BY lang, cand ORDER BY lang, predicted""".stripMargin
  }

  /** North-star n-gram Jaccard: exact shingle-set Jaccard for the
    * MinHash candidate pairs (the verify stage of an LSH dedup pipeline:
    * cheap candidates first, exact set intersection only on survivors). */
  private def qJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // one aggregation pass yields signature AND set size; sizes ride the
    // band rows into the candidate join, so no separate sizes scan/joins.
    // The signature is materialized once (localCheckpoint) because the
    // band SELF-join would otherwise recompute the whole shingle→minhash
    // pipeline for each side — the in-query analog of persisting the
    // signature table as a pipeline stage at real scale.
    val sig = Sketches.minhashSignature(docs, "doc_id", "text", ShingleK, MinhashM)
      .localCheckpoint()
    val allBands = Sketches.minhashBands(sig, "doc_id", MinhashBands,
      MinhashM / MinhashBands, carry = Seq("n_shingles"))
    // cand feeds BOTH the semi-join prune and the final intersection join;
    // sh feeds both sides of the self-intersection. Materialize each once
    // (collision-bounded, small) or the band join / shingle explode runs
    // twice per consumer — the plan-dedup analog of staging the candidate
    // table between pipeline steps at real scale.
    //
    // Pair generation goes through Sketches.bandSelfPairs so a
    // pathological clique bucket skew-splits across salted grid cells
    // (identical pair multiset — see its scaladoc).
    val cand = Sketches.bandSelfPairs(allBands, "doc_id", carry = Seq("n_shingles"))
      .select(col("a_id"), col("b_id"),
        col("a_n_shingles").as("na"), col("b_n_shingles").as("nb"))
      .distinct()
      .localCheckpoint()
    // exact intersection only needs the CANDIDATE docs' shingles — a
    // semi-join prunes the corpus before the (re-)shingling explode, so
    // the expensive stage scales with collisions, not corpus size
    val candIds = cand
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .distinct()
    val sh = Sketches.shingleRows(docs.join(candIds, "doc_id"), "doc_id", "text", ShingleK)
      .localCheckpoint()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")), Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "na", "nb")
      .agg(count(lit(1)).as("n_inter"))
      .select(col("a_id"), col("b_id"),
        (col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter")))
          .as("jaccard"))
      .orderBy("a_id", "b_id")
  }

  private val qJaccardPairsSql: String =
    s"""WITH $candidatesSql,
       |sizes AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS MATERIALIZED (
       |  SELECT c.a_id, c.b_id, count(*) AS n_inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2)
       |SELECT i.a_id, i.b_id,
       |       CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) AS jaccard
       |FROM inter i
       |JOIN sizes na ON na.doc_id = i.a_id
       |JOIN sizes nb ON nb.doc_id = i.b_id
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------- multimodal ---

  /** North-star multimodal plumbing: opaque binary payloads + typed
    * metadata through the feature-stat stage. The declared query runs
    * the CODEGEN projection ([[Multimodal.featureStats]] — columnar
    * scan, fused whole-stage codegen, no typed-Dataset per-row
    * allocation); the mapPartitions decode boundary
    * ([[Multimodal.extractFeatures]]) stays the integration point for
    * real codecs and is pinned equal to this path in MultimodalSpec. */
  private def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.assetsFromDocuments(Tables.documents(s, dir))
    Multimodal.featureStats(assets, EmbeddingDim)
      .orderBy("asset_id")
  }

  private val qMediaFeaturesSql: String = {
    val hexVal =
      "CAST(strpos('0123456789abcdef', substr(md5(text), CAST((fi - 1) % 32 + 1 AS INTEGER), 1)) - 1 AS DOUBLE) / 15.0"
    val featSum = Oracle.foldSum(
      s"list_transform(range(1, ${EmbeddingDim + 1}), fi -> $hexVal)")
    s"""SELECT doc_id AS asset_id,
       |       CASE WHEN doc_id % 3 = 0 THEN 'image'
       |            WHEN doc_id % 3 = 1 THEN 'audio'
       |            ELSE 'text' END AS kind,
       |       CAST(strlen(text) AS BIGINT) AS byte_len,
       |       md5(text) AS digest,
       |       $featSum AS feat_sum
       |FROM documents ORDER BY asset_id""".stripMargin
  }

  /** Per-source duplication audit — the dedup-observability report a
    * corpus pipeline publishes per ingest: docs, distinct texts (by md5
    * — the shuffle carries 16-byte digests, never documents), and
    * duplicate counts per source. */
  private def qDedupAudit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"), md5(col("text")).as("__h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("__h"))).as("n_dups"))
      .orderBy("source")

  private val qDedupAuditSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |       CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Referential-integrity report — the join-sanity gate a pipeline
    * runs before trusting star-schema joins: per FK relationship the
    * child row count and the count of orphans (children whose key has
    * no parent). Each relationship is one left-anti join against a
    * parent KEY projection (broadcast for dims, shuffle for facts —
    * AQE picks); orphan counting never materializes the join payload. */
  private def qFkCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def orphans(child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): (Long, Long) = {
      val n = child.count()
      val o = child.select(col(childKey))
        .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
          "left_anti")
        .count()
      (n, o)
    }
    val rows = Seq(
      ("orders->customer",
        orphans(Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey")),
      ("lineitem->orders",
        orphans(Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey")),
      ("customer->nation",
        orphans(Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey")))
    rows.map { case (rel, (n, o)) => (rel, n, o) }
      .toDF("relationship", "n_children", "n_orphans")
      .orderBy("relationship")
  }

  private val qFkCheckSql: String =
    """SELECT * FROM (
      |  SELECT 'orders->customer' AS relationship,
      |         (SELECT count(*) FROM orders) AS n_children,
      |         (SELECT count(*) FROM orders o
      |          WHERE NOT EXISTS (SELECT 1 FROM customer c
      |                            WHERE c.c_custkey = o.o_custkey)) AS n_orphans
      |  UNION ALL
      |  SELECT 'lineitem->orders',
      |         (SELECT count(*) FROM lineitem),
      |         (SELECT count(*) FROM lineitem l
      |          WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                            WHERE o.o_orderkey = l.l_orderkey))
      |  UNION ALL
      |  SELECT 'customer->nation',
      |         (SELECT count(*) FROM customer),
      |         (SELECT count(*) FROM customer c
      |          WHERE NOT EXISTS (SELECT 1 FROM nation n
      |                            WHERE n.n_nationkey = c.c_nationkey)))
      |ORDER BY relationship""".stripMargin

  private val SimHistSalt = "simhist"

  /** Embedding-space similarity histogram — corpus diagnostics (a
    * collapsed or duplicate-heavy embedding space shows up instantly in
    * this profile): every vector pairs with ONE deterministic partner
    * (`hash(id) mod N`, self-pairs dropped) — an unbiased-enough sample
    * that costs one id equi-join and NO quadratic work — and the cosine
    * lands in one of 21 width-0.1 buckets by exact integer floor
    * (cosines are bit-identical cross-engine, so the floor is too).
    * Output: `(bucket, n_pairs)`, bucket = ⌊cos·10⌋ ∈ [−10, 10]. */
  private def qSimHistogram(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val n = emb.agg(count(lit(1)).as("__n"))
    val pairs = emb
      .crossJoin(broadcast(n))
      .withColumn("__pid",
        pmod(Sketches.md5Long(concat(lit(SimHistSalt), lit(":"),
          col("vec_id").cast("string"))), col("__n")))
      .filter(col("__pid") =!= col("vec_id"))
      .select(col("vec_id"), col("embedding"), col("__pid"))
    val partner = emb.select(col("vec_id").as("__pid"),
      col("embedding").as("__pemb"))
    pairs.join(partner, Seq("__pid"))
      .select(floor(Metric.Cosine.score(col("embedding"), col("__pemb")) * 10)
        .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }

  private val qSimHistogramSql: String = {
    val sim = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |p AS (
       |  SELECT vec_id,
       |         ${Oracle.md5Long(s"'$SimHistSalt:' || CAST(vec_id AS VARCHAR)")} % cnt.n AS pid
       |  FROM e CROSS JOIN cnt),
       |pairs AS (SELECT vec_id, pid FROM p WHERE pid <> vec_id),
       |sc AS (
       |  SELECT CAST(floor($sim * 10) AS BIGINT) AS bucket
       |  FROM pairs JOIN n a ON a.vec_id = pairs.vec_id
       |             JOIN n b ON b.vec_id = pairs.pid)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_pairs
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val KFolds = 5
  private val KfoldSalt = "fold"

  /** K-fold cross-validation assignment: fold = stable hash bucket mod
    * k ([[Splits.hashBucket]] — per-row, reproducible across runs and
    * partitionings, the property `rand()` folds lack), reported as the
    * (fold × label) count grid a practitioner eyeballs for
    * stratification balance. */
  private def qKfold(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select((Splits.hashBucket(col("vec_id"), KfoldSalt) % KFolds).as("fold"),
        col("label"))
      .groupBy("fold", "label")
      .agg(count(lit(1)).as("n"))
      .orderBy("fold", "label")

  private val qKfoldSql: String =
    s"""SELECT (${Oracle.hashBucket("vec_id", KfoldSalt)} % $KFolds) AS fold,
       |       label, CAST(count(*) AS BIGINT) AS n
       |FROM embeddings GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val ServeFuseK = 20
  private val ServeRerankK = 10
  private val ServeMmrK = 5
  private val ServeMmrLambda = 0.7

  /** The COMPLETE production serving stack as one certified query:
    * two-modality retrieval (vector cosine + BM25) fused by RRF to 20
    * candidates → cross-encoder rerank to 10 → MMR-diversified final 5.
    * Every stage is an already-certified operator; this row certifies
    * their COMPOSITION (stage boundaries, rank plumbing, score
    * hand-off) end-to-end against one oracle. Corpus-scale work happens
    * only in stage 1; stages 2–3 are candidate-bounded. */
  private def qServingStack(s: SparkSession, dir: String): DataFrame = {
    // the serving corpus is the INDEXED collection: docs with an
    // embedding row (at sf0.1 only 2000 of 5000 docs are embedded —
    // both retrieval modalities and the BM25 corpus stats see the same
    // collection, like any real hybrid index)
    val servedDocs = Tables.documents(s, dir).join(
      Tables.embeddings(s, dir).select(col("vec_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    val wVec = Window.orderBy(desc("score"), asc("doc_id"))
    val vec = VectorSearch.topK(
      Tables.embeddings(s, dir).select("vec_id", "embedding"),
      "embedding", "vec_id", textQueryFrame(s), "qvec", Metric.Cosine,
      ServeFuseK)
      .select(col("vec_id").as("doc_id"), col("score"))
      .withColumn("rank", row_number().over(wVec).cast("long"))
    val lex = Lexical.bm25TopK(servedDocs, "doc_id", "text",
      Bm25Terms, ServeFuseK)
      .withColumn("rank", row_number().over(wVec).cast("long"))
    val fused = Lexical.rrfFuse(Seq(vec, lex), "doc_id", RrfC, ServeFuseK)
    val wFuse = Window.orderBy(desc("rrf"), asc("doc_id"))
    val cands = fused
      .withColumn("stage1_rank", row_number().over(wFuse).cast("long"))
      .select("doc_id", "stage1_rank")
    val reranked = Rerank.rerank(cands, servedDocs,
      "doc_id", "text", RagQueryText, ServeRerankK)
    val rel = reranked.select("doc_id", "ce_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    Diversify.mmrOverCandidates(s,
      Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding")),
      "embedding", "doc_id", rel, Metric.Cosine, ServeMmrK, ServeMmrLambda)
      .withColumnRenamed("rel", "ce_score")
  }

  private lazy val qServingStackSql: String = {
    val score = Oracle.dot("n.nemb", "q.qemb", EmbeddingDim)
    val sim = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    val oneMinusL = 1.0 - ServeMmrLambda
    // the greedy pick CTE is recursive; bm25Cte emits a plain WITH.
    // corpus = docs with an embedding row (the indexed collection)
    bm25CteRecursive(docsRel =
      "(SELECT d.* FROM documents d WHERE d.doc_id IN (SELECT vec_id FROM embeddings)) sd",
      finalSelect =
      s""", ${Oracle.embeddingsCte},
         |${Oracle.normalizedCte},
         |$textQueryCte,
         |vtop AS (
         |  SELECT n.vec_id AS doc_id, $score AS score
         |  FROM n CROSS JOIN q
         |  ORDER BY score DESC, doc_id ASC LIMIT $ServeFuseK),
         |vrank AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM vtop),
         |ltop AS (
         |  SELECT doc_id, score FROM bm25
         |  ORDER BY score DESC, doc_id ASC LIMIT $ServeFuseK),
         |lrank AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM ltop),
         |contrib AS (
         |  SELECT doc_id, CAST(1.0 AS DOUBLE) / ($RrfC + rank) AS contrib FROM vrank
         |  UNION ALL
         |  SELECT doc_id, CAST(1.0 AS DOUBLE) / ($RrfC + rank) AS contrib FROM lrank),
         |fused AS (
         |  SELECT doc_id,
         |         list_reduce(list_prepend(0.0, list(contrib ORDER BY contrib)),
         |                     (acc, x) -> acc + x) AS rrf
         |  FROM contrib GROUP BY doc_id
         |  ORDER BY rrf DESC, doc_id ASC LIMIT $ServeFuseK),
         |ce AS (
         |  SELECT f.doc_id,
         |         CAST(${Oracle.md5Long(s"'$RagQueryText' || chr(1) || d.text")} AS DOUBLE)
         |              / 1152921504606846976.0 AS ce_score
         |  FROM fused f JOIN documents d ON f.doc_id = d.doc_id),
         |rr AS (
         |  SELECT doc_id, ce_score FROM ce
         |  ORDER BY ce_score DESC, doc_id ASC LIMIT $ServeRerankK),
         |sim AS (
         |  SELECT ca.doc_id AS i, cb.doc_id AS j, $sim AS s
         |  FROM rr ca JOIN n a ON a.vec_id = ca.doc_id
         |       JOIN rr cb ON cb.doc_id <> ca.doc_id JOIN n b ON b.vec_id = cb.doc_id),
         |pick(step, sel) AS (
         |  SELECT 1, [ (SELECT doc_id FROM rr ORDER BY ce_score DESC, doc_id LIMIT 1) ]
         |  UNION ALL
         |  SELECT step + 1,
         |    list_append(sel, (
         |      SELECT c.doc_id FROM rr c
         |      WHERE NOT list_contains(sel, c.doc_id)
         |      ORDER BY CAST($ServeMmrLambda AS DOUBLE) * c.ce_score
         |               - CAST($oneMinusL AS DOUBLE)
         |                 * (SELECT max(s.s) FROM sim s
         |                    WHERE s.i = c.doc_id AND list_contains(sel, s.j)) DESC,
         |               c.doc_id
         |      LIMIT 1))
         |  FROM pick WHERE step < $ServeMmrK)
         |SELECT u.doc_id, r.ce_score, CAST(u.r AS BIGINT) AS mmr_rank
         |FROM (SELECT unnest(sel) AS doc_id, generate_subscripts(sel, 1) AS r
         |      FROM pick WHERE step = $ServeMmrK) u
         |JOIN rr r ON r.doc_id = u.doc_id
         |ORDER BY mmr_rank""".stripMargin)
  }

  /** SCD2 history ([[Temporal.scd2History]]): each user's event-type
    * changes as validity intervals in exact epoch microseconds. */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    Temporal.scd2History(Tables.events(s, dir), "user_id", "ts",
      "event_type", "event_id")
      .orderBy("user_id", "valid_from_us", "event_type")

  private val qScd2Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |c AS (
      |  SELECT *, lag(event_type) OVER (PARTITION BY user_id
      |                                  ORDER BY us, event_id) AS prev
      |  FROM o),
      |ch AS (
      |  SELECT user_id, event_type, us, event_id FROM c
      |  WHERE prev IS NULL OR prev <> event_type),
      |iv AS (
      |  SELECT user_id, event_type, us AS valid_from_us,
      |         lead(us) OVER (PARTITION BY user_id
      |                        ORDER BY us, event_id) AS valid_to_us
      |  FROM ch)
      |SELECT user_id, event_type, valid_from_us, valid_to_us
      |FROM iv ORDER BY user_id, valid_from_us, event_type""".stripMargin

  private val FuzzyTerm = "spark"
  private val FuzzyMaxDist = 2

  /** Fuzzy term matching: vocabulary terms within Levenshtein distance
    * 2 of "spark" with corpus counts — the typo-tolerant lookup of a
    * search stack. One token-agg pass (vocabulary-sized, the
    * [[TextOps.vocabTopK]] shape) then a per-row edit-distance filter
    * over the AGGREGATED vocab frame — the expensive metric runs once
    * per distinct term, never per occurrence. */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(levenshtein(col("tok"), lit(FuzzyTerm)) <= FuzzyMaxDist)
      .withColumn("dist", levenshtein(col("tok"), lit(FuzzyTerm)).cast("long"))
      .select(col("tok"), col("dist"), col("n"))
      .orderBy("dist", "tok")

  private val qFuzzyMatchSql: String =
    s"""WITH t AS (
       |  SELECT unnest(${Oracle.tokens("text")}) AS tok FROM documents),
       |v AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1)
       |SELECT tok, CAST(levenshtein(tok, '$FuzzyTerm') AS BIGINT) AS dist, n
       |FROM v WHERE levenshtein(tok, '$FuzzyTerm') <= $FuzzyMaxDist
       |ORDER BY dist, tok""".stripMargin

  private val PhraseTerms = Seq("spark", "window")

  /** Exact-phrase search ([[Lexical.phraseSearch]]): positional
    * posting-list intersection for "spark window" — adjacency matching
    * bag-of-words BM25 cannot express; postings term-filtered at the
    * scan, materialized once. Positions are 0-based on the Spark side
    * and 1-based in the oracle — only RELATIVE positions matter. */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    Lexical.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
      PhraseTerms)
      .orderBy("doc_id")

  private val qPhraseSearchSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${Oracle.tokens("text")} AS toks FROM documents),
       |p AS (
       |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
       |  FROM t),
       |m AS (
       |  SELECT a.doc_id
       |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |  WHERE a.tok = '${PhraseTerms.head}' AND b.tok = '${PhraseTerms(1)}')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin

  private val CmsW = 1024
  private val CmsD = 4

  /** Count-Min frequency estimates ([[Sketches.cmsBuild]]): CMS over
    * all corpus tokens (4×1024 integer cells — the mergeable frequency
    * sketch), probed with the exact top-10 tokens; `cms_cnt ≥
    * exact_cnt` is the one-sided error contract, oracle-checked
    * cell-for-cell. */
  private def qCmsCounts(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    val sketch = Sketches.cmsBuild(toks, "tok", CmsW, CmsD)
    val exactTop = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("tok")).limit(10)
      .localCheckpoint() // feeds both the probe and the final join
    Sketches.cmsEstimate(exactTop.select("tok"), "tok", sketch, CmsW, CmsD)
      .join(exactTop, Seq("tok"))
      .select(col("tok"), col("exact_cnt"), col("cms_cnt"))
      .orderBy("tok")
  }

  private val qCmsCountsSql: String = {
    val p = Sketches.MinhashPrime
    val consts = Sketches.mixConstants(CmsD)
    def branches(src: String) = consts.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT tok, CAST($i AS BIGINT) AS row, (($a * hm + $b) % $p) % $CmsW AS bucket FROM $src"
    }.mkString("\n    UNION ALL ")
    s"""WITH t AS (
       |  SELECT unnest(${Oracle.tokens("text")}) AS tok FROM documents),
       |h AS (
       |  SELECT tok, ${Oracle.shingleHash("tok")} AS hm
       |  FROM t),
       |cells AS (
       |  SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    ${branches("h")})
       |  GROUP BY 1, 2),
       |ex AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM t GROUP BY 1
       |  ORDER BY exact_cnt DESC, tok ASC LIMIT 10),
       |exh AS (
       |  SELECT tok, ${Oracle.shingleHash("tok")} AS hm
       |  FROM ex),
       |pe AS (
       |    ${branches("exh")}),
       |est AS (
       |  SELECT pe.tok, min(COALESCE(c.cnt, 0)) AS cms_cnt
       |  FROM pe LEFT JOIN cells c USING (row, bucket) GROUP BY 1)
       |SELECT e.tok, e.exact_cnt, CAST(est.cms_cnt AS BIGINT) AS cms_cnt
       |FROM ex e JOIN est USING (tok)
       |ORDER BY tok""".stripMargin
  }

  private val LeakSalt = "leak"
  private val LeakTrainFrac = 0.8
  private val LeakTau = 0.3

  /** Embedding-level train/test leakage ([[VectorSearch
    * .clusterMaxSim]]): hash-split the vectors 80/20, then every test
    * row's max cosine to any train row WITHIN its centroid cluster —
    * the semantic contamination check n-gram overlap
    * ([[qContamination]]) cannot catch — over `c` memoized first-c
    * cells. Rows: q_split_leakage ([[IvfCells]]) and
    * q_split_leakage_scaled ([[scaledIvfCells]]: within-cell pair work
    * stays ~N·√N-bounded along the scale curve instead of the N²/16
    * the r9 sweep measured dying at sf10). */
  private def splitLeakage(s: SparkSession, dir: String, c: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cents = centroids(dir, emb, c)
    val isTrain =
      Splits.hashBucket(col("vec_id"), LeakSalt) <
        math.round(LeakTrainFrac * Splits.Buckets)
    VectorSearch.clusterMaxSim(
      emb.filter(!isTrain), emb.filter(isTrain),
      "embedding", "vec_id", Metric.Cosine, cents)
      .withColumn("leaked",
        col("max_sim").isNotNull && col("max_sim") > LeakTau)
      .orderBy("vec_id")
  }

  private def splitLeakageSql(cells: String): String = {
    val b = Splits.Buckets
    val bound = math.round(LeakTrainFrac * b)
    val bucket = Oracle.hashBucket("vec_id", LeakSalt)
    val sim = Oracle.dot("a.nemb", "b.nemb", EmbeddingDim)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |${ivfAssignSql(cells, 1)},
       |dt AS MATERIALIZED (
       |  SELECT vec_id, nemb, cid, ($bucket < $bound) AS is_train FROM da),
       |m AS (
       |  SELECT a.vec_id, max($sim) AS max_sim
       |  FROM dt a JOIN dt b ON a.cid = b.cid AND NOT a.is_train AND b.is_train
       |  GROUP BY 1)
       |SELECT d.vec_id, d.cid AS centroid_id, m.max_sim,
       |       (m.max_sim IS NOT NULL
       |        AND m.max_sim > CAST($LeakTau AS DOUBLE)) AS leaked
       |FROM dt d LEFT JOIN m ON d.vec_id = m.vec_id
       |WHERE NOT d.is_train
       |ORDER BY d.vec_id""".stripMargin
  }

  private val ProfileCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** Column profiling ([[Profile.profile]]) over orders: one
    * aggregation pass for all scalar stats + one modal-value groupBy
    * per column — the pre-training data-quality report. Integral and
    * string columns only (double stringification is engine-specific). */
  private def qProfile(s: SparkSession, dir: String): DataFrame =
    Profile.profile(Tables.orders(s, dir), ProfileCols)
      .orderBy("column")

  private val qProfileSql: String = {
    val branches = ProfileCols.map { c =>
      s"""SELECT '$c' AS "column", (SELECT count(*) FROM orders) AS n_rows,
         |       (SELECT count(*) FROM orders WHERE $c IS NULL) AS n_nulls,
         |       (SELECT count(DISTINCT $c) FROM orders) AS n_distinct,
         |       (SELECT CAST(min($c) AS VARCHAR) FROM orders) AS min_val,
         |       (SELECT CAST(max($c) AS VARCHAR) FROM orders) AS max_val,
         |       t.v AS top_value, t.cnt AS top_count
         |FROM (SELECT CAST($c AS VARCHAR) AS v, CAST(count(*) AS BIGINT) AS cnt
         |      FROM orders WHERE $c IS NOT NULL
         |      GROUP BY 1 ORDER BY cnt DESC, v ASC LIMIT 1) t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT "column", CAST(n_rows AS BIGINT) AS n_rows,
       |       CAST(n_nulls AS BIGINT) AS n_nulls,
       |       CAST(n_distinct AS BIGINT) AS n_distinct,
       |       min_val, max_val, top_value, top_count
       |FROM ($branches)
       |ORDER BY "column"""".stripMargin
  }

  private val FrameBytes = 32
  private val FramesPerAsset = 4

  /** Uniform frame sampling over media payloads
    * ([[Multimodal.frameSample]]): k=4 evenly spaced 32-byte frames per
    * asset, per-frame digests — the selection arithmetic of a video
    * pipeline as a zero-shuffle projection. */
  private def qFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
      Multimodal.assetsFromDocuments(Tables.documents(s, dir)),
      FrameBytes, FramesPerAsset)
      .orderBy("asset_id", "frame_index")

  private val qFrameSampleSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image'
       |              WHEN doc_id % 3 = 1 THEN 'audio'
       |              ELSE 'text' END AS kind,
       |         text,
       |         greatest(1, (strlen(text) + ${FrameBytes - 1}) // $FrameBytes)
       |           AS n_frames
       |  FROM documents),
       |f AS (
       |  SELECT asset_id, kind, n_frames, g.j,
       |         (g.j * n_frames) // $FramesPerAsset AS frame_index,
       |         substr(text,
       |                CAST(((g.j * n_frames) // $FramesPerAsset) * $FrameBytes + 1
       |                     AS INTEGER), $FrameBytes) AS frame
       |  FROM a CROSS JOIN generate_series(0, ${FramesPerAsset - 1}) g(j)
       |  WHERE g.j = 0
       |     OR (g.j * n_frames) // $FramesPerAsset
       |        <> ((g.j - 1) * n_frames) // $FramesPerAsset)
       |SELECT asset_id, kind, CAST(frame_index AS BIGINT) AS frame_index,
       |       CAST(n_frames AS BIGINT) AS n_frames,
       |       CAST(strlen(frame) AS BIGINT) AS frame_len,
       |       md5(frame) AS frame_digest
       |FROM f ORDER BY asset_id, frame_index""".stripMargin

  private val ResizeMaxW = 128
  private val ResizeMaxH = 96

  /** Aspect-preserving resize planning ([[Multimodal.resizePlan]]):
    * stub-decoded source dims fit into a 128×96 box with exact integer
    * geometry. */
  private def qResizePlan(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePlan(
      Multimodal.assetsFromDocuments(Tables.documents(s, dir)),
      ResizeMaxW, ResizeMaxH)
      .orderBy("asset_id")

  private val qResizePlanSql: String =
    s"""WITH a AS (
       |  SELECT doc_id AS asset_id,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image'
       |              WHEN doc_id % 3 = 1 THEN 'audio'
       |              ELSE 'text' END AS kind,
       |         md5(text) AS d
       |  FROM documents),
       |dims AS (
       |  SELECT asset_id, kind, d,
       |         CAST('0x' || substr(d, 1, 2) AS BIGINT) + 16 AS src_w,
       |         CAST('0x' || substr(d, 3, 2) AS BIGINT) + 16 AS src_h
       |  FROM a),
       |fit AS (
       |  SELECT *,
       |         (src_w * $ResizeMaxH >= src_h * $ResizeMaxW) AS wide,
       |         CASE WHEN src_w * $ResizeMaxH >= src_h * $ResizeMaxW
       |              THEN $ResizeMaxW
       |              ELSE (src_w * $ResizeMaxH) // src_h END AS out_w,
       |         CASE WHEN src_w * $ResizeMaxH >= src_h * $ResizeMaxW
       |              THEN (src_h * $ResizeMaxW) // src_w
       |              ELSE $ResizeMaxH END AS out_h
       |  FROM dims)
       |SELECT asset_id, kind, src_w, src_h,
       |       CAST(out_w AS BIGINT) AS out_w, CAST(out_h AS BIGINT) AS out_h,
       |       md5(d || ':' || CAST(out_w AS VARCHAR) || 'x'
       |           || CAST(out_h AS VARCHAR)) AS resized_digest
       |FROM fit ORDER BY asset_id""".stripMargin

  // ------------------------------------------------------------- events ---

  /** Streaming-shaped batch query: tumbling 10-minute windows per event
    * type with exact integer milli-sums ([[Streaming.windowedCounts]] —
    * the same plan runs under readStream, see StreamingSpec). */
  private def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    Streaming.windowedCounts(Tables.events(s, dir))
      .orderBy("window_start_epoch", "event_type")

  private val qEventsWindowSql: String =
    """SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_epoch,
      |       event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Real Structured Streaming execution, driver-visible: the events
    * fixture is staged into a landing directory, ingested through
    * `readStream` ([[Streaming.eventsStream]] — FileStreamSource, the
    * files-arrive shape), aggregated by the SAME [[Streaming
    * .windowedCounts]] the batch query uses (30-minute tumbling windows,
    * 1-hour watermark), drained with `Trigger.AvailableNow` into a
    * memory sink in complete mode, and the final sink table returned.
    * The DuckDB oracle recomputes the aggregation relationally, so the
    * correctness gate certifies the streaming EXECUTION PATH end to end
    * — source, watermarking state store, sink — not just the shared
    * transform logic (which StreamingSpec pins batch==stream anyway).
    * Scale shape: at 100 TB the landing dir is the object-store prefix
    * new files land in; AvailableNow gives batch-drain semantics with
    * streaming bookkeeping (exactly-once file tracking in the source
    * log), and state is bounded by the watermark. */
  private def qStreamIngest(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "events")
    val sink = s"q_stream_ingest_sink_${math.abs(dir.hashCode)}"
    if (s.catalog.tableExists(sink)) s.catalog.dropTempView(sink)
    drainStream(s, "q_stream_ingest", streamWidth(8)) {
      Streaming.windowedCounts(
          Streaming.eventsStream(s, landing),
          windowDur = "30 minutes", watermark = Some("1 hour"))
        .writeStream
        .format("memory")
        .queryName(sink)
        .outputMode("complete")
    }
    s.table(sink).orderBy("window_start_epoch", "event_type")
  }

  /** Stage one fixture table into a landing dir (created if absent).
    * The fixture may be a single parquet FILE (the driver's current
    * shape) or a parquet DIRECTORY of part files (the multi-file shape
    * a regenerated fixture could take — the same fixture-drift class as
    * the r6 ts-type break; ADVICE r7 flagged that a bare `Files.copy` of a
    * directory silently stages an EMPTY landing dir and every stream
    * query drains zero rows). Directory fixtures have every data file
    * copied; either way the staging FAILS LOUDLY unless at least one
    * staged file carries the `PAR1` parquet magic. */
  private def stageParquet(src: java.nio.file.Path, dest: java.nio.file.Path,
      baseName: String): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    Files.createDirectories(dest)
    def dataFiles(p: java.nio.file.Path): List[java.nio.file.Path] = {
      val st = Files.list(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(f => f.getFileName.toString.startsWith("_") ||
          f.getFileName.toString.startsWith(".")).toList
      finally st.close()
    }
    if (Files.isDirectory(src))
      dataFiles(src).sortBy(_.getFileName.toString).zipWithIndex.foreach {
        case (f, i) => Files.copy(f, dest.resolve(f"${baseName}_p$i%05d.parquet"))
      }
    else Files.copy(src, dest.resolve(s"$baseName.parquet"))
    val hasFooter = dataFiles(dest).exists { p =>
      Files.size(p) > 8 && {
        val in = Files.newInputStream(p)
        try {
          val b = new Array[Byte](4)
          in.read(b) == 4 && new String(b, "US-ASCII") == "PAR1"
        } finally in.close()
      }
    }
    if (!hasFooter) throw new IllegalStateException(
      s"staged landing dir $dest holds no parquet data file " +
        s"(fixture $src drifted shape?)")
  }

  /** Scratch-dir prefix of each fixture table's landing dir. */
  private val LandingPrefix = Map(
    "events" -> "stream_landing",
    "documents" -> "doc_landing",
    "embeddings" -> "emb_landing")

  /** Stage the fixture's `table`.parquet into a landing directory (the
    * file-arrival shape FileStreamSource needs), once per [[stagedKey]]:
    * the events landing serves ingest, burst, dedup, enrich and pairs;
    * the embeddings landing serves index and codes. */
  private def landingDir(dir: String, table: String): String =
    staged(LandingPrefix(table), stagedKey(dir, table)) { d =>
      stageParquet(java.nio.file.Paths.get(s"$dir/$table.parquet"),
        java.nio.file.Paths.get(d), table)
    }

  /** State width for a STATE-HEAVY stream (the stream-stream join),
    * self-sized from the corpus row count — MIGRATION's "state
    * partition count is sized to state volume" rule as code, the
    * scaledLshBits pattern: every stateful operator commits one state
    * store per partition per micro-batch, so SMALL state wants few
    * partitions (commit overhead dominates — the fixture-tuned 8),
    * while corpus-sized state wants per-row update parallelism
    * (measured r15 at sf10: 20M state rows, 93% of wall in state
    * updates; width 8 = 112.0s vs width 32 = 50.2s idle). The sizing
    * curve between the two tuned endpoints is
    * `width = clamp(8, 32, 8 · (1 + stateRows/2.5M))` — i.e. +8 width
    * per 2.5M state rows, so the only values are 8/16/24/32; results
    * are width-independent. The first r15 attempt was a GLOBAL env width —
    * measured backfiring on every small-state stream row at sf10
    * (sessions 9.2→15.0s, dedup 2.8→4.3s: 32 stores' commit overhead
    * for KB-sized state), which is why the sizing is per-volume here,
    * not per-sweep. */
  private def streamStateWidth(stateRows: Long): Int =
    math.max(8, math.min(32, 8 * (1 + (stateRows / 2500000L)).toInt))

  /** The shuffle-partition cap of a stateful stream: every stateful
    * operator commits one state store PER shuffle partition PER
    * micro-batch, so the session width (the core count in Verify, Bench
    * and the specs; 32 on the r1–r18 host) pays that many store commits
    * × stores × batches on fixture-sized state (the stream-stream join
    * keeps FOUR stores per partition; BENCH_r06's 44s q_stream_pairs row
    * was mostly this bookkeeping). At production scale the state
    * partition count is sized to state volume ÷ executor memory — here
    * state is fixture-sized, so a handful of partitions is the honest
    * shape. */
  private def streamWidth(n: Int): Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> n.toString)

  /** Skip the trailing no-data micro-batch `AvailableNow` runs to
    * advance the watermark, for streams whose result it cannot change. */
  private val NoTrailingBatch =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Drain cap: 600s covers every fixture drain with 30× headroom at
    * sf ≤ 0.1. A hung stream past the cap is a bug signal, and stop()
    * on a mid-batch stream can destabilize the whole context, so the
    * cap must stay ABOVE any honest drain. */
  private val DrainTimeoutMs = 600000L

  /** Start `writer` with `Trigger.AvailableNow` under the session
    * `confs` and DRAIN it: stop it and throw if it has not terminated
    * after [[DrainTimeoutMs]]. The confs are held until
    * `awaitTermination` returns (restored in the finally AROUND the
    * drain, per ADVICE r7 — restoring right after `start()` would rely
    * on the undocumented guarantee that StreamExecution clones the
    * session conf synchronously inside `start()`); batch
    * post-aggregation of the sink runs afterwards at the restored
    * session width. */
  private def drainStream(s: SparkSession, name: String,
      confs: Map[String, String] = Map.empty)(
      writer: => org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit = {
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val q = writer
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      if (!q.awaitTermination(DrainTimeoutMs)) {
        q.stop()
        throw new IllegalStateException(s"$name: stream did not drain")
      }
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Drain `stream` through the exactly-once parquet sink
    * ([[Streaming.idempotentPublish]]: dynamic `_batch_id` partition
    * overwrite) into the `prefix` publish dir staged per fixture
    * `table`, and read the published rows back. `perBatch` runs on
    * each micro-batch before it is published. Publish sinks, not memory
    * sinks: these rows' outputs are corpus-scale, and a memory sink
    * collects all of it driver-side (at the sf10 sweep q_stream_pairs
    * died on spark.driver.maxResultSize, 1.2 GiB of serialized pairs,
    * after GC-thrashing the drain cap); the declared rollups aggregate
    * the published files executor-side. */
  private def publishDrained(s: SparkSession, dir: String, table: String,
      prefix: String, name: String, confs: Map[String, String],
      perBatch: DataFrame => DataFrame = identity)(
      stream: => DataFrame): DataFrame = {
    val pub = staged(prefix, stagedKey(dir, table))(_ => ())
    drainStream(s, name, confs) {
      stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
        Streaming.idempotentPublish(perBatch(batch), id, pub)
      }
    }
    Streaming.readPublished(s, pub)
  }

  /** Streamed corpus featurization executed FOR REAL under the gate,
    * AND the first driver-gated exercise of the exactly-once SINK
    * contract: the documents landing-dir stream is featurized per
    * micro-batch by the SAME [[TextOps.featureHash]] the batch query
    * uses (stateless per-doc work — no aggregation state store needed)
    * and published through [[Streaming.idempotentPublish]] (dynamic
    * `_batch_id` partition overwrite — a redelivered batch overwrites
    * byte-identical data instead of appending). Streamed features equal
    * the batch featurization because hashed features from independent
    * corpus slices concatenate exactly (CorpusOpsSpec pins the slice
    * property); the oracle replays the whole-corpus certificate. At
    * scale this is the freshness path: crawled docs land, features
    * appear next micro-batch, no corpus re-featurization. */
  private def qStreamFeatures(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "documents")
    val published = publishDrained(s, dir, "documents", "feature_pub", "q_stream_features",
        Map.empty, TextOps.featureHash(_, "doc_id", "text", FeatureHashK)) {
      Streaming.documentsStream(s, landing)
    }
    published
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("nnz"),
        sum("count").as("n_tokens"),
        sum(col("count") * col("count")).as("l2sq"),
        max("count").as("max_count"))
      .orderBy("doc_id")
  }

  // the streamed features must equal the batch featurization exactly
  private def qStreamFeaturesSql: String = qFeatureHashSql

  /** Stateful streaming dedup executed FOR REAL: the landing-dir stream
    * deduplicated on (user_id, event_type) with
    * `dropDuplicatesWithinWatermark` — the at-least-once-upstream
    * contract ([[Streaming.dedupStream]]): seen-key state is BOUNDED by
    * the 1-hour watermark instead of growing for the stream's lifetime,
    * which is what makes streaming dedup survive a year-long 100 TB
    * ingest. Only the key columns are emitted (the surviving row's
    * other fields depend on arrival order inside a micro-batch — keys
    * are the deterministic part, and the fixture stages ONE file = ONE
    * micro-batch, so no key is ever evicted-then-re-emitted). Oracle:
    * relational SELECT DISTINCT. */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "events")
    publishDrained(s, dir, "events", "dedup_pub", "q_stream_dedup",
        streamWidth(8)) {
      Streaming.dedupStream(
          Streaming.eventsStream(s, landing)
            .select(col("user_id"), col("event_type"), col("ts")),
          Seq("user_id", "event_type"), watermark = Some("1 hour"))
        .select("user_id", "event_type")
    }.orderBy("user_id", "event_type")
  }

  private val qStreamDedupSql: String =
    """SELECT DISTINCT user_id, event_type
      |FROM events ORDER BY 1, 2""".stripMargin

  /** Stream-stream interval self-join executed FOR REAL under the gate:
    * the landing-dir events stream joined with itself on user_id within
    * a 1-day event-time bound ([[Streaming.correlatedPairs]] — the SAME
    * function that builds q_event_pairs' batch plan). Both sides carry
    * a 1-hour watermark and the join condition time-bounds the event
    * times, so join state is evicted as the watermark advances — what
    * keeps a year-long correlation join's state at O(join window), not
    * O(stream). Inner joins emit each matched pair in the micro-batch
    * where both rows are present (no watermark holdback), so
    * `AvailableNow` drains to the complete pair set; the declared
    * result aggregates the sink in batch to q_event_pairs' grouped
    * shape, certifying the streaming join against the relational
    * oracle. */
  /** Stream-STATIC broadcast enrichment executed FOR REAL under the
    * gate — the third join class of the streaming story (q_stream_pairs
    * covers stream-stream; this is the dimension-lookup shape): each
    * micro-batch of the events stream joins a STATIC per-type profile
    * (exact integer sum/count of the historical batch table) via an
    * explicit `broadcast()`. Stream-static joins are STATELESS — no
    * state store, no watermark needed; Spark re-plans the batch side
    * per micro-batch and ships it map-side, which at 100 TB is exactly
    * how ingest enrichment against reference data works (the stream
    * never reshuffles). The "above the historical type mean" flag is
    * the all-BIGINT cross-multiply `milli·n > Σmilli` — no division, no
    * float threshold, so the flag is bit-deterministic cross-engine.
    * Oracle: the same profile and cross-multiply replayed relationally. */
  private def qStreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "events")
    val profile = Tables.events(s, dir)
      .select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("milli"))
      .groupBy("event_type")
      .agg(sum("milli").as("type_milli_sum"), count(lit(1)).as("type_n"))
    val published = publishDrained(s, dir, "events", "enrich_pub", "q_stream_enrich",
        streamWidth(8) ++ NoTrailingBatch) {
      Streaming.eventsStream(s, landing)
        .select(col("event_id"), col("event_type"),
          floor(col("value") * 1000).cast("long").as("milli"))
        .join(broadcast(profile), "event_type")
        .select(col("event_id"), col("event_type"), col("milli"),
          (col("milli") * col("type_n") > col("type_milli_sum"))
            .cast("int").as("above_mean"))
    }
    published
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("above_mean").as("n_above_mean"),
        sum(when(col("above_mean") === 1, col("milli"))).as("milli_above_sum"))
      .orderBy("event_type")
  }

  private val qStreamEnrichSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |         CAST(floor(value * 1000) AS BIGINT) AS milli
      |  FROM events),
      |p AS (
      |  SELECT event_type,
      |         CAST(sum(milli) AS BIGINT) AS type_milli_sum,
      |         CAST(count(*) AS BIGINT) AS type_n
      |  FROM e GROUP BY 1),
      |j AS (
      |  SELECT e.event_type, e.milli,
      |         CASE WHEN e.milli * p.type_n > p.type_milli_sum
      |              THEN 1 ELSE 0 END AS above_mean
      |  FROM e JOIN p USING (event_type))
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(above_mean) AS BIGINT) AS n_above_mean,
      |       CAST(sum(CASE WHEN above_mean = 1 THEN milli END) AS BIGINT)
      |         AS milli_above_sum
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Write `df` as ONE parquet file named `$name.parquet` inside `d` —
    * single-file staging for deterministic one-file-per-micro-batch
    * landing dirs. */
  private def stageSingleFile(df: DataFrame, d: java.nio.file.Path,
      name: String): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val tmp = d.resolve(s"__tmp_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val entries = {
      val st = Files.list(tmp)
      try st.iterator().asScala.toList finally st.close()
    }
    val part = entries.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, d.resolve(s"$name.parquet"))
    entries.filterNot(_ == part).foreach(Files.delete(_))
    Files.delete(tmp)
  }

  /** UPDATE-MODE aggregation feeding an idempotent foreachBatch MERGE
    * ([[Streaming.upsertSnapshot]]) — the fourth and last streaming
    * output shape after append (q_stream_dedup), complete
    * (q_stream_ingest), and append-with-custom-state
    * (q_stream_sessions): the running per-type totals panel is
    * maintained incrementally, each micro-batch upserting ONLY the
    * keys whose totals changed. The landing dir is staged as TWO files
    * read at `maxFilesPerTrigger=1`, split so both merge paths execute
    * for real: the lexicographically-first event type rides ONLY in
    * file 0 (batch 1's anti-join must CARRY its v0 row through
    * untouched), while every other type appears in both files (batch
    * 1 must REPLACE their v0 totals with the updated running totals).
    * Update mode emits running TOTALS per changed key — not deltas —
    * so the merged panel equals the batch recompute, which is the
    * oracle. State is one row per event type (key-domain-bounded);
    * the panel-maintenance shape q_sample_append certifies in batch,
    * now certified on the streaming execution path. */
  private def qStreamUpsert(s: SparkSession, dir: String): DataFrame = {
    val landing = staged("upsert_landing", stagedKey(dir, "events")) { p =>
      val d = java.nio.file.Paths.get(p)
      val ev = Tables.events(s, dir)
      val t0 = ev.agg(min("event_type")).head().getString(0)
      stageSingleFile(
        ev.filter(col("event_type") === t0 ||
          pmod(col("event_id"), lit(2)) === 0), d, "h0")
      Thread.sleep(30) // distinct mod-times → deterministic file order
      stageSingleFile(
        ev.filter(col("event_type") =!= t0 &&
          pmod(col("event_id"), lit(2)) === 1), d, "h1")
    }
    val pub = staged("upsert_pub", stagedKey(dir, "events"))(_ => ())
    drainStream(s, "q_stream_upsert", streamWidth(8)) {
      Streaming.eventsStream(s, landing, maxFilesPerTrigger = Some(1))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("value_milli_sum"))
        .writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          Streaming.upsertSnapshot(batch, id, Seq("event_type"), pub)
        }
    }
    Streaming.readUpserted(s, pub).orderBy("event_type")
  }

  // streamed-merged panel must equal the batch recompute exactly
  private val qStreamUpsertSql: String =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
      |         AS value_milli_sum
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private def qStreamPairs(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "events")
    val ev = Streaming.eventsStream(s, landing).withWatermark("ts", "1 hour")
    // inner stream-stream joins emit each pair in the micro-batch where
    // both rows arrive (no watermark holdback), so the trailing no-data
    // watermark-advance batch does pure state-eviction bookkeeping here
    // — skip it (it cannot change the result set)
    //
    // Width self-sizes from state volume (both join sides insert every
    // event): 8 at fixture scale, 32 at sf10's 20M state rows — the
    // one stream row whose state is corpus-sized (sf10: 92.6s → 30.3s
    // measured in the r15 sweep).
    val stateWidth = streamStateWidth(
      2L * Tables.events(s, dir).count())
    val published = publishDrained(s, dir, "events", "pairs_pub", "q_stream_pairs",
        streamWidth(stateWidth) ++ NoTrailingBatch) {
      Streaming.correlatedPairs(ev, ev, withinSeconds = 86400)
    }
    published
      .groupBy("a_type", "b_type")
      .agg(count(lit(1)).as("n_pairs"), sum("gap_micros").as("gap_micros_sum"))
      .orderBy("a_type", "b_type")
  }

  // def, not val: qEventPairsSql initializes later in this object
  private def qStreamPairsSql: String = qEventPairsSql

  /** Streamed ANN index maintenance executed FOR REAL under the gate:
    * the embeddings landing-dir stream bucketed through the SAME
    * stateless per-row sign-LSH assignment the batch index build uses
    * ([[VectorSearch.lshBucketTable]]), append mode with NO state at
    * all — bucketing is a pure function of the vector, which is exactly
    * why stream-maintained indexes equal a batch rebuild (LshSpec pins
    * the same equality for the batch append path). At scale this is the
    * index freshness path: vectors land in the object-store prefix, the
    * stream emits (id, band, bucket) rows into the bucketed index
    * table, queries see them next micro-batch — no corpus re-scan, no
    * rebuild. Oracle: the full-rebuild bucketing replayed arithmetically
    * (q_index_append's oracle — the gated claim is streamed == rebuilt). */
  private def qStreamIndex(s: SparkSession, dir: String): DataFrame = {
    val landing = landingDir(dir, "embeddings")
    // publishing IS the operator's real contract: a streamed index is
    // served from storage, not from driver memory
    publishDrained(s, dir, "embeddings", "stream_index_pub", "q_stream_index",
        streamWidth(8)) {
      VectorSearch.lshBucketTable(
          Streaming.embeddingsStream(s, landing),
          "embedding", "vec_id",
          Metric.Cosine, EmbeddingDim, bits = LshMultiBits, bands = IndexBands)
        .select(col("vec_id"), col("band").cast("long").as("band"), col("bucket"))
    }.orderBy("vec_id", "band")
  }

  // def, not val: qIndexAppendSql (the full-rebuild replay) initializes
  // earlier in the file but keep the reference lazy for safety
  private def qStreamIndexSql: String = qIndexAppendSql

  /** Streamed index maintenance WITH the compaction trigger INSIDE the
    * stream ([[Streaming.compactingIndexAppend]]) — closes the last
    * batch-initiated step of the index lifecycle (build → append →
    * stream → serve → compact, now all stream-drivable): the landing
    * dir is staged as THREE files and drained at one file per
    * micro-batch, each batch appending tagged fragments; at the
    * cadence-2 trigger the accumulated fragments rewrite into a
    * versioned band-partitioned snapshot while ingestion continues;
    * the declared rows are the SERVING read (snapshot ∪ post-snapshot
    * fragments). Oracle: the full-rebuild replay — streamed-compacted
    * == rebuilt, the same layout-only claim as q_index_compact, now
    * under live ingestion. */
  private def qStreamCompact(s: SparkSession, dir: String): DataFrame = {
    val base = staged("stream_compact", stagedKey(dir, "embeddings")) { b =>
      Tables.embeddings(s, dir).repartition(3)
        .write.parquet(s"$b/landing")
      val frag = s"$b/frag"
      val compacts = s"$b/compact"
      drainStream(s, "q_stream_compact") {
        VectorSearch.lshBucketTable(
            Streaming.embeddingsStream(s, s"$b/landing",
              maxFilesPerTrigger = Some(1)),
            "embedding", "vec_id", Metric.Cosine, EmbeddingDim,
            bits = LshMultiBits, bands = IndexBands)
          .select(col("vec_id"), col("band").cast("long").as("band"),
            col("bucket"))
          .writeStream
          .foreachBatch((batch: DataFrame, id: Long) =>
            Streaming.compactingIndexAppend(batch, id, frag, compacts,
              cadence = 2))
          .option("checkpointLocation", s"$b/ckpt")
      }
    }
    Streaming.readCompactedIndex(s, s"$base/frag", s"$base/compact")
      .select(col("vec_id"), col("band"), col("bucket"))
      .orderBy("vec_id", "band")
  }

  private def qStreamCompactSql: String = qIndexAppendSql

  /** Streamed PQ code maintenance executed FOR REAL under the gate —
    * [[qStreamIndex]]'s analog for the COMPRESSED serving tier: the
    * embeddings landing-dir stream encoded through [[VectorSearch
    * .pqEncode]] against FROZEN codebooks (the standard PQ serving
    * contract: retrain codebooks offline, never per insert — the same
    * freeze that makes [[VectorSearch.ivfIndexAppend]] exact). Encoding
    * is a pure per-row projection (struct-min over 16-entry codebooks,
    * no state store), so streamed code rows equal a batch re-encode
    * exactly; at scale this keeps the 8-byte-code table fresh as
    * vectors land, with no corpus re-encode. Oracle: the per-subspace
    * argmin assignment replayed relationally and bit-packed. */
  private def qStreamCodes(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val cbs = codebooks(dir, emb, PqKsub)
    val landing = landingDir(dir, "embeddings")
    // published parquet IS the PQ code table's serving layout
    publishDrained(s, dir, "embeddings", "stream_codes_pub", "q_stream_codes",
        streamWidth(8)) {
      VectorSearch.pqEncode(
          Streaming.embeddingsStream(s, landing),
          "embedding", "vec_id",
          cbs, Metric.Cosine)
    }.orderBy("vec_id")
  }

  private val qStreamCodesSql: String = {
    val sSub = EmbeddingDim / PqM
    val subA = s"list_slice(v.nemb, gs.j * $sSub + 1, gs.j * $sSub + $sSub)"
    val subC = s"list_slice(c.nemb, gs.j * $sSub + 1, gs.j * $sSub + $sSub)"
    val dist = Oracle.euclideanDistance(subA, subC, sSub)
    s"""WITH ${Oracle.embeddingsCte},
       |${Oracle.normalizedCte},
       |cb AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS code, nemb
       |  FROM (SELECT vec_id, nemb FROM n ORDER BY vec_id LIMIT $PqKsub)),
       |d AS (
       |  SELECT v.vec_id, gs.j, c.code, $dist AS dist
       |  FROM n v CROSS JOIN cb c CROSS JOIN generate_series(0, ${PqM - 1}) gs(j)),
       |a AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |                              ORDER BY dist ASC, code ASC) AS rn
       |    FROM d) WHERE rn = 1)
       |SELECT vec_id,
       |       CAST(sum(code * (1::BIGINT << (4 * j))) AS BIGINT) AS pq_code
       |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Custom-state streaming sessionization executed FOR REAL under the
    * gate — the hardest streaming path in the repo:
    * [[Streaming.closedSessions]]'s `flatMapGroupsWithState` with an
    * EVENT-TIME timeout, which `session_window` (q_sessionize) cannot
    * express: sessions are emitted exactly once, ON CLOSE, from custom
    * per-user state. The landing dir is staged as time-ordered files
    * read at `maxFilesPerTrigger=1` (one file = one micro-batch): the
    * fixture (one byte-identical file, or ascending event-time RANGE
    * files when the fixture is a multi-file directory — see the
    * restaging note inline), then two single-row far-future sentinel
    * files for ONE sentinel user, the second within the session gap of
    * the first. Spark
    * applies a watermark update one batch AFTER its data, so sentinel
    * 1's batch flushes most fixture sessions and sentinel 2's batch —
    * whose operative watermark comes from sentinel 1's far-future
    * event — flushes ALL of them by timeout. The sentinel's own session
    * is never emitted under EITHER drain behavior: sentinel 2 extends
    * it (same user, inside the gap) rather than closing it, and the
    * trailing NO-DATA micro-batch that `AvailableNow` runs to advance
    * the final watermark (observed: it leaked a distinct-user second
    * sentinel in the first cut) still leaves the watermark a full
    * watermark-delay behind the extended session's timeout. The oracle
    * would hash-fail if a sentinel row leaked. This models the real
    * unbounded stream, where the watermark always advances past any
    * session's gap. State is O(open sessions); timeouts evict — the
    * 100 TB shape. Oracle: the inclusive-gap rule replayed relationally
    * (lag → cumulative session id) on floor-second epochs, exactly
    * [[Streaming.closedSessions]]'s arithmetic. */
  private def qStreamSessions(s: SparkSession, dir: String): DataFrame = {
    val landing = staged("sess_landing", stagedKey(dir, "events")) { p =>
      val d = java.nio.file.Paths.get(p)
      val srcPath = java.nio.file.Paths.get(s"$dir/events.parquet")
      if (!java.nio.file.Files.isDirectory(srcPath))
        stageParquet(srcPath, d, "b0") // single-file fixture: byte-identical
      else {
        // Multi-file fixture (ScaleUp output): raw part files are NOT
        // time-ordered, and FileStreamSource + maxFilesPerTrigger=1
        // makes each file a micro-batch — a full-time-range first file
        // advances the watermark past most later events and the
        // stateful sessionizer rightly drops them as late (measured at
        // sf1: 191,898 of 954,650 sessions survived). Restage as
        // contiguous ascending EVENT-TIME range files — the order a
        // real stream's files land in — so per-batch watermark
        // advancement never marks a later file late. Range bounds are
        // exact integer micros arithmetic; ranges are contiguous, so
        // cross-batch session opens/closes match the relational oracle
        // exactly (a timeout-closed session's would-be continuation is
        // beyond the gap by construction).
        val ev = Tables.events(s, dir)
        val mm = ev.agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi")).head
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val k = 4
        val span = (hi - lo) / k + 1
        (0 until k).foreach { i =>
          stageSingleFile(
            ev.filter(unix_micros(col("ts")) >= lo + i * span &&
              unix_micros(col("ts")) < lo + (i + 1) * span),
            d, f"b0_p$i%05d")
          Thread.sleep(30) // ascending mod-times → deterministic order
        }
      }
      // sentinel rows must carry ts in the LANDING DIR'S encoding (the
      // stream schema is sniffed from the merged dir — a mixed
      // int64/timestamp dir would fail schema merge): probe the staged
      // b0 files (byte-identical to the fixture in the single-file
      // path; normalized timestamps in the restaged path). The
      // legacy-nanos conf is scoped to this eager schema sniff
      // (restored in the finally); eventsStream re-establishes it
      // itself if the fixture needs it.
      val tsType = {
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val prev = s.conf.getOption(key)
        s.conf.set(key, "true")
        try s.read.parquet(d.toString).schema("ts").dataType
        finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
      }
      val dayMicros = 86400L * 1000000L
      val maxTsMicros =
        Tables.events(s, dir).agg(max(unix_micros(col("ts")))).head.getLong(0)
      Seq(("b1", -1L, maxTsMicros + 10L * dayMicros),
          ("b2", -1L, maxTsMicros + 10L * dayMicros + 600L * 1000000L)).foreach {
        case (name, uid, tsMicros) =>
          Thread.sleep(30) // distinct mod-times → deterministic file order
          val tsCol = tsType match {
            case org.apache.spark.sql.types.LongType => lit(tsMicros * 1000L)
            case _: org.apache.spark.sql.types.TimestampNTZType =>
              // UTC session tz → the LTZ→NTZ cast is identity on micros
              timestamp_micros(lit(tsMicros)).cast("timestamp_ntz")
            case _ => timestamp_micros(lit(tsMicros))
          }
          stageSingleFile(
            s.range(1).select(
              lit(uid).as("event_id"), tsCol.as("ts"),
              lit(uid).as("user_id"), lit("sentinel").as("event_type"),
              lit(0.0).as("value"), lit("{}").as("props")),
            d, name)
      }
    }
    publishDrained(s, dir, "events", "sessions_pub", "q_stream_sessions",
        streamWidth(8)) {
      Streaming.closedSessions(
          Streaming.eventsStream(s, landing, maxFilesPerTrigger = Some(1)),
          gapSecs = 1800L, watermark = "1 hour")
        .toDF()
    }.orderBy("user_id", "session_start_epoch")
  }

  private val qStreamSessionsSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep
      |  FROM events),
      |d AS (
      |  SELECT user_id, ep,
      |         CASE WHEN ep - LAG(ep) OVER (PARTITION BY user_id ORDER BY ep) <= 1800
      |              THEN 0 ELSE 1 END AS is_new
      |  FROM e),
      |s AS (
      |  SELECT user_id, ep,
      |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ep
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id,
      |       MIN(ep) AS session_start_epoch,
      |       MAX(ep) AS session_end_epoch,
      |       CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_epoch""".stripMargin

  private val qStreamIngestSql: String =
    """SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS window_start_epoch,
      |       event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Per-user sessionization (30-minute max gap) via native
    * `session_window`; oracle replays it with gaps-and-islands over
    * exact microsecond epochs. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    Streaming.sessionize(Tables.events(s, dir))
      .orderBy("user_id", "session_start_epoch")

  private val qSessionizeSql: String =
    """WITH o AS (
      |  SELECT user_id, ts, epoch_us(ts) AS us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
      |  FROM events),
      |f AS (
      |  SELECT user_id, us,
      |         CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM o),
      |g AS (
      |  SELECT user_id, us,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id,
      |       CAST(min(us) // 1000000 AS BIGINT) AS session_start_epoch,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start_epoch""".stripMargin

  private val SaltFactor = 8

  /** Skew-mitigated hot-key join ([[Skew.saltedJoin]]): events joined to
    * a per-type dimension on `event_type` — 5 distinct values, the
    * classic everything-lands-on-5-reducers pathology. The salt spreads
    * each hot key over [[SaltFactor]] reducers (replicating the 5-row
    * dim ×salt); the RESULT is salt-independent — every left row matches
    * its own salt exactly once — so the oracle is the plain join, and
    * the hash gate certifies the rewrite loses/duplicates nothing. */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"))
    val dim = ev.groupBy("event_type")
      .agg(count(lit(1)).as("type_total"))
    Skew.saltedJoin(ev, dim, "event_type", "event_id", SaltFactor)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("user_id").as("user_sum"),
        max("type_total").as("type_total"))
      .orderBy("event_type")
  }

  private val qSaltedJoinSql: String =
    """WITH dim AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS type_total
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type AS event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(e.user_id) AS BIGINT) AS user_sum,
      |       CAST(max(d.type_total) AS BIGINT) AS type_total
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Keep-first-arrival dedup over events (DISTINCT ON) — the batch
    * analog of the streaming `dropDuplicatesWithinWatermark` ingest
    * contract, via [[Temporal.keepFirst]]'s partial-aggregating
    * struct-min (no corpus-wide window sort). First event per
    * (user, type) by (ts, event id); value in exact milli-units. */
  private def qKeepFirst(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("first_ts_us"),
      col("event_id").as("first_event_id"),
      floor(col("value") * 1000).cast("long").as("first_value_milli"))
    Temporal.keepFirst(ev,
      keyCols = Seq("user_id", "event_type"),
      orderCols = Seq("first_ts_us", "first_event_id"),
      payloadCols = Seq("first_value_milli"))
      .orderBy("user_id", "event_type")
  }

  private val qKeepFirstSql: String =
    """SELECT user_id, event_type,
      |       CAST(epoch_us(ts) AS BIGINT) AS first_ts_us,
      |       event_id AS first_event_id,
      |       CAST(floor(value * 1000) AS BIGINT) AS first_value_milli
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY epoch_us(ts), event_id) = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Sliding windows (10 min window / 5 min slide): every event lands in
    * exactly two windows; oracle enumerates both via a 2-element series. */
  private def qEventsSliding(s: SparkSession, dir: String): DataFrame =
    Streaming.windowedCounts(Tables.events(s, dir), slide = Some("5 minutes"))
      .orderBy("window_start_epoch", "event_type")

  private val qEventsSlidingSql: String =
    """SELECT CAST((CAST(floor(epoch(ts) / 300) AS BIGINT) - gs.i) * 300 AS BIGINT) AS window_start_epoch,
      |       event_type,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli_sum
      |FROM events CROSS JOIN generate_series(0, 1) gs(i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Event-pair correlation (the batch form of the stream-stream
    * interval self-join, [[Streaming.correlatedPairs]]): same-user event
    * pairs within a day, aggregated per (a_type, b_type) with exact
    * microsecond gap sums. */
  private def qEventPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Streaming.correlatedPairs(ev, ev, withinSeconds = 86400)
      .groupBy("a_type", "b_type")
      .agg(count(lit(1)).as("n_pairs"), sum("gap_micros").as("gap_micros_sum"))
      .orderBy("a_type", "b_type")
  }

  private val qEventPairsSql: String =
    """SELECT a.event_type AS a_type, b.event_type AS b_type,
      |       CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(sum(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS gap_micros_sum
      |FROM events a
      |JOIN events b ON a.user_id = b.user_id AND a.event_id <> b.event_id
      |             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 86400 SECONDS
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** AS-OF join (custom temporal operator — Spark has no built-in; the
    * oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so the gate certifies
    * real as-of semantics): for every purchase, the same user's latest
    * view at-or-before it. [[Temporal.asofJoin]] is the union +
    * running-last-match window — one shuffle by user, no per-key
    * range-join cartesian. */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    Temporal.asofJoin(purchases, views, "user_id", "ts", "event_id")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        unix_micros(col("ts")).as("purchase_micros"),
        col("asof_event_id").as("view_id"),
        unix_micros(col("asof_ts")).as("view_micros"))
      .orderBy("purchase_id")
  }

  private val qAsofJoinSql: String =
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view')
      |SELECT p.event_id AS purchase_id, p.user_id,
      |       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_micros,
      |       v.event_id AS view_id,
      |       CAST(epoch_us(v.ts) AS BIGINT) AS view_micros
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY purchase_id""".stripMargin

  /** LEFT ANTI join (the §2.2 join-type gap next to the inner/outer/
    * semi shapes already declared): customers with NO orders in 1995,
    * counted per nation. Plans as a broadcast/shuffled anti join —
    * never a filtered cartesian; the oracle is the NOT EXISTS form. */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val o95 = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_inactive"), min("c_custkey").as("min_custkey"))
      .orderBy("c_nationkey")
  }

  private val qAntiJoinSql: String =
    """SELECT c_nationkey,
      |       CAST(count(*) AS BIGINT) AS n_inactive,
      |       CAST(min(c_custkey) AS BIGINT) AS min_custkey
      |FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1996-01-01')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The dense interval set of q_range_join / q_overlap_join: orders
    * placed in March 1995. */
  private def march1995: Column =
    col("o_orderdate") >= lit("1995-03-01").cast("timestamp") &&
      col("o_orderdate") < lit("1995-04-01").cast("timestamp")

  private val March1995Sql =
    """o.o_orderdate >= TIMESTAMP '1995-03-01'
      |  AND o.o_orderdate < TIMESTAMP '1995-04-01'""".stripMargin

  /** The SPARSE-BUT-WIDE interval set of the `_sparse` twins — the
    * documented failure mode of the r11 global-min/max points prune
    * (VERDICT r11 #3): orders placed in the OPENING 3 DAYS of any
    * March, a seasonal-audit pattern that recurs once per fixture year,
    * so the intervals span the whole date axis (global bounds cover
    * ~everything → the bounds prune goes inert) while covering ~2% of
    * its 4-day buckets. The bucket-id bloom of
    * [[graft.plans.ExpandOverlapJoin]] (both twins: a range join's point
    * is the interval [pt, pt]) is the load-bearing prune here: points
    * in the ~98% of buckets no interval overlaps drop map-side, BELOW
    * the bucket exchange.
    * Calendar predicates survive [[ScaleUp]]'s axis extension (replicas
    * shift by whole spans, so every replica contributes its own
    * Marches) — the sparsity RATIO is scale-invariant. */
  private def marchOpenings: Column =
    month(col("o_orderdate")) === 3 && dayofmonth(col("o_orderdate")) <= 3

  private val MarchOpeningsSql = "month(o.o_orderdate) = 3 AND day(o.o_orderdate) <= 3"

  /** Range join ([[Temporal.rangeJoin]]): lineitems shipped within 3
    * days of the date of any order in `orders` — a pure range predicate
    * with NO equi-key, which Spark natively plans as
    * BroadcastNestedLoopJoin (O(n·m), dead at 100 TB). A point is the
    * interval [pt, pt], so the call is the overlap join of
    * `[ship_s, ship_s]` with the order windows: the custom
    * [[graft.plans.OverlapJoinPlan]] node, which
    * [[graft.plans.ExpandOverlapJoin]] expands into a bucketed
    * equi-join (4-day buckets ⇒ one bucket row per lineitem, ≤ 2 per
    * order). Epochs as LONG seconds; quantities are integral
    * doubles, summed as exact longs. Rows: q_range_join
    * ([[march1995]]), q_range_join_sparse ([[marchOpenings]]). */
  private def rangeJoin(s: SparkSession, dir: String, orders: Column): DataFrame = {
    val points = Tables.lineitem(s, dir).select(
      col("l_orderkey"),
      col("l_quantity"),
      // l_shipdate is TIMESTAMP_NTZ: no direct →LONG cast; go through
      // TIMESTAMP (session TZ pinned UTC, so the instant is the naive
      // wall-clock — same reading DuckDB's epoch() gives)
      col("l_shipdate").cast("timestamp").cast("long").as("ship_s"))
    val intervals = Tables.orders(s, dir)
      .filter(orders)
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("lo_s"),
        (col("o_orderdate").cast("timestamp").cast("long") + lit(3L * 86400)).as("hi_s"))
    Temporal.rangeJoin(points, "ship_s", intervals, "lo_s", "hi_s", 4L * 86400)
      .groupBy("o_orderkey")
      .agg(
        count(lit(1)).as("n_ship"),
        sum(col("l_quantity").cast("long")).as("qty_sum"))
      .orderBy("o_orderkey")
  }

  private def rangeJoinSql(orders: String): String =
    s"""SELECT o.o_orderkey AS o_orderkey,
       |       CAST(count(*) AS BIGINT) AS n_ship,
       |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
       |FROM orders o
       |JOIN lineitem l
       |  ON CAST(epoch(l.l_shipdate) AS BIGINT) >= CAST(epoch(o.o_orderdate) AS BIGINT)
       | AND CAST(epoch(l.l_shipdate) AS BIGINT) <= CAST(epoch(o.o_orderdate) AS BIGINT) + 3 * 86400
       |WHERE $orders
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Interval-OVERLAP join ([[Temporal.overlapJoin]], the custom
    * [[graft.plans.OverlapJoinPlan]] node that also carries
    * [[rangeJoin]], whose point is the interval [pt, pt]) with a real
    * interval on both sides: lineitem shipment-activity windows
    * `[ship−1d, ship+1d]` overlapping the fulfillment windows
    * `[o_date, o_date+3d]` of the orders in `orders`. Both sides
    * explode to 4-day buckets, ONE equi-join on bucket id with the
    * exact overlap predicate as residual, and duplicate pairs die by
    * bucket OWNERSHIP (a pair counts only in bucket
    * `max(lo_l, lo_r) div w`) — no distinct, so `count(*)` certifies
    * the dedup through the hash gate: one extra or missing pair changes
    * `n_overlap`. The corpus-scale lineitem frame is the LEFT side (the
    * operator's orientation contract): [[graft.plans.ExpandOverlapJoin]]'s
    * runtime prune — hull bounds pre-explode + bucket-id bloom below
    * the exchange, one metadata-scale subquery over the orders — drops
    * the shipment windows that cannot overlap any fulfillment window
    * before they shuffle. Rows: q_overlap_join ([[march1995]]),
    * q_overlap_join_sparse ([[marchOpenings]]). */
  private def overlapJoin(s: SparkSession, dir: String, orders: Column): DataFrame = {
    val right = Tables.orders(s, dir)
      .filter(orders)
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("lo_r"),
        (col("o_orderdate").cast("timestamp").cast("long") + lit(3L * 86400)).as("hi_r"))
    val ships = Tables.lineitem(s, dir).select(
      col("l_quantity"),
      (col("l_shipdate").cast("timestamp").cast("long") - lit(86400L)).as("lo_l"),
      (col("l_shipdate").cast("timestamp").cast("long") + lit(86400L)).as("hi_l"))
    Temporal.overlapJoin(ships, "lo_l", "hi_l", right, "lo_r", "hi_r", 4L * 86400)
      .groupBy("o_orderkey")
      .agg(
        count(lit(1)).as("n_overlap"),
        sum(col("l_quantity").cast("long")).as("qty_sum"))
      .orderBy("o_orderkey")
  }

  private def overlapJoinSql(orders: String): String =
    s"""SELECT o.o_orderkey AS o_orderkey,
       |       CAST(count(*) AS BIGINT) AS n_overlap,
       |       CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
       |FROM orders o
       |JOIN lineitem l
       |  ON CAST(epoch(o.o_orderdate) AS BIGINT)
       |       <= CAST(epoch(l.l_shipdate) AS BIGINT) + 86400
       | AND CAST(epoch(l.l_shipdate) AS BIGINT) - 86400
       |       <= CAST(epoch(o.o_orderdate) AS BIGINT) + 3 * 86400
       |WHERE $orders
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** JSON property extraction (`props` is a JSON string column):
    * per-event-type sum of the numeric `k` field. */
  private def qEventProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("k_sum"))
      .orderBy("event_type")

  private val qEventPropsSql: String =
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------- relational ---
  // Classic warehouse shapes over the TPC-H-ish tables — exercises the
  // §2.2 categories (multi-way joins, broadcast dims, grouped aggregation,
  // top-n) that the vector/text surface doesn't. Money is aggregated in
  // exact integer cents (floor(x*100)) — double sums across partitions
  // are order-dependent and would break the hash gate.

  /** Revenue per row in exact cents, discount applied (per-row IEEE
    * arithmetic is identical in both engines; the SUM is then integer). */
  private def revenueCents =
    floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long")

  /** TPC-H Q1-style pricing summary: filtered scan → grouped aggregates.
    * The shipdate predicate pushes to the parquet scan. */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"), // quantities are integral: exact
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("base_cents"),
        sum(revenueCents).as("disc_cents"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  private val qPricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS base_cents,
      |       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS disc_cents,
      |       CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q5-style: lineitem ⋈ orders ⋈ customer ⋈ nation, revenue per
    * nation. The nation dim is broadcast explicitly; customer is small
    * enough that AQE broadcasts it too — the only real shuffle left is
    * the lineitem⋈orders key exchange + the final group-by. */
  private def qRevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), revenueCents.as("cents"))
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val nat = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum("cents").as("revenue_cents"), count(lit(1)).as("n_lineitems"))
      .orderBy(desc("revenue_cents"), asc("n_name"))
  }

  private val qRevenueByNationSql: String =
    """SELECT n.n_name,
      |       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       CAST(count(*) AS BIGINT) AS n_lineitems
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name
      |ORDER BY revenue_cents DESC, n_name ASC""".stripMargin

  /** Top-10 customers by revenue: grouped agg → `TakeOrderedAndProject`
    * → broadcast join of the 10 survivors against the customer dim (the
    * name lookup joins AFTER the top-n, so only 10 rows hit the dim). */
  private def qTopCustomers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), revenueCents.as("cents"))
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val top = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("cents").as("revenue_cents"))
      .orderBy(desc("revenue_cents"), asc("o_custkey"))
      .limit(10)
    top.join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_name")),
      col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"), col("revenue_cents"))
      .orderBy(desc("revenue_cents"), asc("custkey"))
  }

  private val qTopCustomersSql: String =
    """WITH rev AS (
      |  SELECT o.o_custkey,
      |         CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY o.o_custkey
      |  ORDER BY revenue_cents DESC, o_custkey ASC LIMIT 10)
      |SELECT r.o_custkey AS custkey, c.c_name, r.revenue_cents
      |FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
      |ORDER BY revenue_cents DESC, custkey ASC""".stripMargin

  /** Window-function breadth (rank / dense_rank / lag): per-customer
    * order ranking by exact price cents with the previous order carried
    * alongside; top-2 per customer. */
  private def qOrderRanks(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * 100).cast("long")
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("price_cents"), asc("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), cents.as("price_cents"))
      .withColumn("price_rank", rank().over(w).cast("long"))
      .withColumn("price_dense_rank", dense_rank().over(w).cast("long"))
      .withColumn("prev_orderkey", lag("o_orderkey", 1).over(w))
      .filter(col("price_rank") <= 2)
      .orderBy("o_custkey", "price_rank", "o_orderkey")
  }

  private val qOrderRanksSql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM orders),
      |r AS (
      |  SELECT o_custkey, o_orderkey, price_cents,
      |         CAST(rank() OVER w AS BIGINT) AS price_rank,
      |         CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
      |         lag(o_orderkey, 1) OVER w AS prev_orderkey
      |  FROM o
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY price_cents DESC, o_orderkey ASC))
      |SELECT * FROM r WHERE price_rank <= 2
      |ORDER BY o_custkey, price_rank, o_orderkey""".stripMargin

  /** Set-operation breadth: nation keys split into customers∩suppliers,
    * customers-only, suppliers-only via INTERSECT / EXCEPT / UNION ALL. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val custN = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
    val suppN = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
    val both = custN.intersect(suppN).withColumn("tag", lit("both"))
    val custOnly = custN.except(suppN).withColumn("tag", lit("cust_only"))
    val suppOnly = suppN.except(custN).withColumn("tag", lit("supp_only"))
    both.unionByName(custOnly).unionByName(suppOnly)
      .select("tag", "nationkey")
      .orderBy("tag", "nationkey")
  }

  private val qSetOpsSql: String =
    """SELECT 'both' AS tag, nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'cust_only', nationkey FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'supp_only', nationkey FROM (
      |  SELECT s_nationkey AS nationkey FROM supplier
      |  EXCEPT SELECT c_nationkey FROM customer)
      |ORDER BY tag, nationkey""".stripMargin

  /** Rollup aggregation: (lang, source) hierarchy with subtotal and
    * grand-total rows (`ROLLUP` — absent from the reference entirely). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))

  private val qRollupSql: String =
    """SELECT lang, source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY ROLLUP (lang, source)
      |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin

  /** GROUPING SETS beyond what ROLLUP can express (the (source)-only
    * set and the grand total alongside both rollup levels), with
    * `grouping_id` disambiguating real NULLs from subtotal rows — the
    * remaining §2.2 multi-granularity aggregation shape next to
    * [[qRollup]]/[[qPivot]]. One pass over the data expands to the four
    * grouping sets before the exchange (partial aggregation per set). */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")),
          Seq(col("source")), Seq.empty),
        col("lang"), col("source"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"))
      .select("gid", "lang", "source", "n_docs", "sum_chars")
      .orderBy(asc("gid"), asc_nulls_first("lang"), asc_nulls_first("source"))

  private val qGroupingSetsSql: String =
    """SELECT CAST(grouping(lang, source) AS BIGINT) AS gid,
      |       lang, source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
      |ORDER BY gid, lang NULLS FIRST, source NULLS FIRST""".stripMargin

  /** Pivot: per-source document counts spread across language columns
    * (Spark `pivot()`; the oracle uses conditional aggregation, which is
    * exactly what the pivot plans to). */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("source")

  private val qPivotSql: String =
    """SELECT source,
      |       CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de,
      |       CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en,
      |       CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS es,
      |       CAST(count(*) FILTER (WHERE lang = 'fr') AS BIGINT) AS fr,
      |       CAST(count(*) FILTER (WHERE lang = 'zh') AS BIGINT) AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Window frames (ROWS UNBOUNDED PRECEDING): per-customer running
    * revenue over their orders in date order — exact cents. */
  private def qRunningTotal(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * 100).cast("long")
    val w = Window.partitionBy("o_custkey")
      .orderBy(asc("o_orderdate"), asc("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("price_cents", cents)
      .withColumn("running_cents", sum("price_cents").over(w))
      .filter(col("o_custkey") < 50)
      .select(col("o_custkey"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_epoch"),
        col("price_cents"), col("running_cents"))
      .orderBy("o_custkey", "order_epoch", "o_orderkey")
  }

  private val qRunningTotalSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
      |       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
      |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
      |FROM orders WHERE o_custkey < 50
      |ORDER BY o_custkey, order_epoch, o_orderkey""".stripMargin

  /** O1/O2 insert path as a declared query: append one arithmetically
    * embedded row through the VectorTable dim check, report checksums. */
  private def qInsert(s: SparkSession, dir: String): DataFrame = {
    val vt = VectorTable(
      Tables.embeddings(s, dir),
      VectorTableConfig(dim = EmbeddingDim, metric = "cosine"))
    val newRow = s.range(1).select(
      lit(1000000L).as("vec_id"),
      VF.arithmeticEmbedding(lit("brand new doc"), EmbeddingDim).as("embedding"),
      lit(99).as("label"))
    vt.insert(newRow).df.agg(
      count(lit(1)).as("n_rows"),
      sum("vec_id").as("id_sum"),
      sum("label").as("label_sum"))
  }

  private val qInsertSql: String =
    """SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows,
      |       CAST(sum(vec_id) + 1000000 AS BIGINT) AS id_sum,
      |       CAST(sum(label) + 99 AS BIGINT) AS label_sum
      |FROM embeddings""".stripMargin

  // -------------------------------------------------------- persistence ---

  /** O20/O21 roundtrip: save embeddings as a VectorTable (parquet + config
    * sidecar), load it back, report scalar checksums + loaded config. */
  private def qSaveLoad(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = Tables.scratchPath(s"q_save_load_$safe")
    val vt = VectorTable(
      Tables.embeddings(s, dir),
      VectorTableConfig(dim = EmbeddingDim, metric = "cosine"))
    vt.save(path)
    val loaded = VectorTable.load(s, path)
    loaded.df.agg(
      count(lit(1)).as("n_rows"),
      sum("vec_id").as("id_sum"),
      sum("label").as("label_sum"))
      .withColumn("dim", lit(loaded.config.dim))
      .withColumn("metric_name", lit(loaded.config.metric))
  }

  private val qSaveLoadSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(vec_id) AS BIGINT) AS id_sum,
       |       CAST(sum(label) AS BIGINT) AS label_sum,
       |       $EmbeddingDim AS dim,
       |       'cosine' AS metric_name
       |FROM embeddings""".stripMargin

  /** Schema evolution across parquet generations — the schema-drift
    * reality of a corpus written over years: an old generation lacks a
    * column a newer crawler added. Two generations are WRITTEN (even
    * keys without `price_cents`, odd keys with it) and read back through
    * ONE `mergeSchema` scan: Spark unions the footers' schemas and
    * null-fills the missing column in old files — no rewrite of the old
    * generation, which at 100 TB is the difference between a metadata
    * merge and a full-corpus migration. The aggregate proves the merged
    * frame is exactly old ∪ new (counts per status, non-null count and
    * exact-cents sum only from the evolved generation). Oracle replays
    * the generation split relationally from the original table. */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = Tables.scratchPath(s"q_schema_evo_$safe")
    val orders = Tables.orders(s, dir)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$root/gen=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
      .write.mode("overwrite").parquet(s"$root/gen=2")
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("price_cents")).as("n_priced"),
        coalesce(sum("price_cents"), lit(0L)).as("price_cents_sum"))
      .orderBy("o_orderstatus")
  }

  private val qSchemaEvolutionSql: String =
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_priced,
      |       CAST(COALESCE(sum(CASE WHEN o_orderkey % 2 = 1
      |                     THEN CAST(floor(o_totalprice * 100) AS BIGINT) END), 0)
      |            AS BIGINT) AS price_cents_sum
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Per-language EXACT percentiles of document length — corpus
    * length-distribution analytics. Spark's `percentile` (exact, linear
    * interpolation at rank p·(n−1)) and DuckDB's `quantile_cont` share
    * the same definition; on integer inputs the interpolation arithmetic
    * is bit-identical. Exact percentile sorts per group — fine for
    * per-language cardinalities; at larger group counts switch to
    * `percentile_approx` (t-digest) and a tolerance gate. */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        expr("percentile(n_chars, 0.99)").as("p99"),
        count(lit(1)).as("n"))
      .orderBy("lang")

  private val qPercentilesSql: String =
    """SELECT lang,
      |       quantile_cont(n_chars, 0.5) AS p50,
      |       quantile_cont(n_chars, 0.9) AS p90,
      |       quantile_cont(n_chars, 0.99) AS p99,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Approximate-aggregate paths (the 100 TB forms of distinct-count
    * and percentile: HLL++ `approx_count_distinct` needs KB of state vs
    * a full dedup shuffle; t-digest `percentile_approx` vs a per-group
    * sort), gated WITHOUT requiring DuckDB to replicate Spark's
    * sketches: the query emits the exact value plus an in-plan
    * within-tolerance FLAG comparing Spark's approx against Spark's
    * exact. The oracle emits the same exact values with the flags
    * hard-coded true — if an approx path ever drifts out of tolerance,
    * the flag flips and the hash gate fails. */
  private def qApproxStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      // count distinct over the md5, not the text: the distinct expand
      // shuffles 32-byte digests instead of KB documents (same count —
      // the oracle's integer output doesn't care how it was counted)
      .withColumn("__th", md5(col("text").cast("binary")))
      .groupBy("lang")
      .agg(
        countDistinct(col("__th")).as("exact_distinct"),
        approx_count_distinct(col("__th"), 0.02).as("__ad"),
        expr("percentile(n_chars, 0.5)").as("p50_exact"),
        expr("percentile_approx(n_chars, 0.5, 1000)").as("__p50a"))
      .select(
        col("lang"),
        col("exact_distinct"),
        (abs(col("__ad") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05).cast("int").as("distinct_ok"),
        col("p50_exact"),
        (abs(col("__p50a") - col("p50_exact")) <=
          col("p50_exact") * 0.05 + 1.0).cast("int").as("p50_ok"))
      .orderBy("lang")

  private val qApproxStatsSql: String =
    """SELECT lang,
      |       CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
      |       CAST(1 AS INTEGER) AS distinct_ok,
      |       quantile_cont(n_chars, 0.5) AS p50_exact,
      |       CAST(1 AS INTEGER) AS p50_ok
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-label embedding centroids as EXACT integer micro-sums —
    * embedding analytics (cluster summaries / label prototypes). Means
    * of doubles are partition-order-dependent in their last bits, so the
    * gate certifies `sum(floor(v·10⁶))` + count per (label, dim) and the
    * consumer divides; posexplode → partial map-side agg, shuffle keyed
    * (label, pos) — 5·64 groups here, `labels·dims` at scale. */
  private def qLabelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v") * 1e6).cast("long")).as("vsum_micro"))
      .select(col("label"), col("pos").cast("long").as("pos"), col("n"),
        col("vsum_micro"))
      .orderBy("label", "pos")

  private val qLabelCentroidsSql: String =
    s"""WITH ${Oracle.embeddingsCte},
       |x AS (
       |  SELECT label, CAST(gs.i - 1 AS BIGINT) AS pos,
       |         CAST(floor(emb[gs.i] * 1e6) AS BIGINT) AS vmicro
       |  FROM e CROSS JOIN generate_series(1, $EmbeddingDim) gs(i))
       |SELECT label, pos, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(vmicro) AS BIGINT) AS vsum_micro
       |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** int8 scalar quantization (serving-memory compression, ~8× at a
    * small recall cost): per-vector scale, round-half-up codes,
    * reconstruction error — all as per-row exact/floored integers so
    * the oracle certifies the exact codes, not a tolerance. */
  private def qQuantize(s: SparkSession, dir: String): DataFrame =
    // one pass of the codegen VecQuantizeStats kernel — same arithmetic
    // as Quantize.quantizeColumn's HOF chain (QuantizeSpec pins parity),
    // without the O(dim²) interpreted lambdas or the self-join that
    // recovered the original vector for the error fold
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        graft.expressions.VectorExpressions
          .quantizeStatsCol(col("embedding")).as("__q"))
      .select(
        col("vec_id"),
        col("__q.scale_micro").as("scale_micro"),
        col("__q.code_sum").as("code_sum"),
        col("__q.code_max").as("code_max"),
        col("__q.err_micro").as("err_micro"))
      .orderBy("vec_id")

  private val qQuantizeSql: String = {
    val sExpr = s"(list_max(list_transform(emb, qx -> abs(qx))) / 127.0)"
    val codes =
      s"list_transform(emb, qx -> greatest(least(floor(qx / s + 0.5), 127.0), -127.0))"
    val err = Oracle.foldSum(
      s"list_transform(range(1, ${EmbeddingDim + 1}), ei -> abs(emb[ei] - codes[ei] * s))")
    s"""WITH ${Oracle.embeddingsCte},
       |sc AS (SELECT vec_id, emb, $sExpr AS s FROM e),
       |c AS (SELECT vec_id, emb, s, $codes AS codes FROM sc)
       |SELECT vec_id,
       |       CAST(floor(s * 1e6) AS BIGINT) AS scale_micro,
       |       CAST(${Oracle.foldSum("codes")} AS BIGINT) AS code_sum,
       |       CAST(list_max(codes) AS BIGINT) AS code_max,
       |       CAST(floor($err * 1e6) AS BIGINT) AS err_micro
       |FROM c ORDER BY vec_id""".stripMargin
  }

  private val ReduceDim = 16

  /** Deterministic random projection 64 → 16 dims
    * ([[VectorSearch.randomProjection]] — JL-style compression, the
    * cheap pre-ANN step of an embedding pipeline), dumped as scalar
    * (vec_id, pos, v) rows on a deterministic 1-in-10 id sample. The
    * oracle replays the identical plane arithmetic and fold order, so
    * the gate certifies every projected component bit-for-bit. */
  private def qDimReduce(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        posexplode(VectorSearch.randomProjection(
          col("embedding"), EmbeddingDim, ReduceDim)).as(Seq("pos", "v")))
      .withColumn("pos", col("pos").cast("long"))
      .orderBy("vec_id", "pos")

  private val qDimReduceSql: String = {
    val w = "(CAST((li * (j + 1) * 7919) % 193 AS DOUBLE) / 193.0 - 0.5)"
    val proj = Oracle.foldSum(
      s"list_transform(range(1, ${EmbeddingDim + 1}), li -> e.emb[li] * $w)")
    s"""WITH ${Oracle.embeddingsCte}
       |SELECT e.vec_id AS vec_id, j AS pos, $proj AS v
       |FROM e CROSS JOIN range(0, $ReduceDim) AS t(j)
       |WHERE e.vec_id % 10 = 0
       |ORDER BY vec_id, pos""".stripMargin
  }

  private val SplitSalt = "exp1"
  private val SplitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic train/val/test split (training-pipeline op): assign
    * every document by `md5(salt:id)` bucket — reproducible across runs,
    * engines, and partitionings, unlike `rand()`/`randomSplit`. Output:
    * per-(split, lang) doc and char counts. The oracle replays the
    * identical hash arithmetic, so the gate certifies the ASSIGNMENT,
    * not just the counts. */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    Splits.assignSplit(Tables.documents(s, dir), "doc_id", SplitSalt, SplitWeights)
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("char_sum"))
      .orderBy("split", "lang")

  private val qSplitSql: String =
    s"""SELECT $splitCaseSql AS split, lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS char_sum
       |FROM documents
       |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  /** Oracle fragment: [[Splits.assignSplit]]'s CASE expression over
    * `doc_id` with the declared salt/weights (shared by [[qSplitSql]]
    * and [[qContaminationSql]]). */
  private def splitCaseSql: String = {
    val b = Splits.Buckets
    val bounds = SplitWeights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * b)
    }.tail
    val bucket = Oracle.hashBucket("doc_id", SplitSalt)
    val cases = SplitWeights.init.zip(bounds.init)
      .map { case ((label, _), bound) => s"WHEN $bucket < $bound THEN '$label'" }
      .mkString(" ")
    s"CASE $cases ELSE '${SplitWeights.last._1}' END"
  }

  /** Benchmark decontamination (north-star dedup family): the
    * deterministic [[Splits.assignSplit]] train/test split, then for
    * every test doc the count of its k-shingles leaking from the train
    * corpus ([[Sketches.contamination]]) — the n-gram overlap guard a
    * training pipeline runs before any eval. */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val labeled = Splits.assignSplit(
      Tables.documents(s, dir), "doc_id", SplitSalt, SplitWeights)
    Sketches.contamination(
      labeled.filter(col("split") === "train"),
      labeled.filter(col("split") === "test"),
      "doc_id", "text", ShingleK)
      .orderBy("doc_id")
  }

  private val qContaminationSql: String =
    s"""WITH labeled AS (
       |  SELECT doc_id, text, $splitCaseSql AS split FROM documents),
       |csh AS (
       |  SELECT doc_id, split,
       |         unnest(${shinglesSql("text", ShingleK)}) AS shingle
       |  FROM labeled WHERE split IN ('train', 'test')),
       |chs AS (
       |  SELECT DISTINCT doc_id, split,
       |         ${Oracle.shingleHash("shingle")} AS hm
       |  FROM csh),
       |trh AS (SELECT DISTINCT hm FROM chs WHERE split = 'train'),
       |teh AS (SELECT doc_id, hm FROM chs WHERE split = 'test')
       |SELECT te.doc_id AS doc_id,
       |       CAST(count(*) AS BIGINT) AS n_shingles,
       |       CAST(count(trh.hm) AS BIGINT) AS n_shared,
       |       CAST(CASE WHEN count(trh.hm) > 0 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
       |FROM teh te LEFT JOIN trh ON te.hm = trh.hm
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The composed corpus pipeline end-to-end — the shape a real
    * training-data run takes, certified as ONE oracle-checked query:
    * quality filter ([[TextOps.qualityMetrics]]) → exact dedup keeping
    * the min-id copy ([[TextOps.dedupExact]]) → deterministic split
    * ([[Splits.assignSplit]]) → per-split counts and content checksums.
    * Every stage is a shuffle-lean building block already certified
    * alone; this row certifies their COMPOSITION (join keys, column
    * flow, filter ordering survive assembly). */
  private def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val okIds = TextOps.qualityMetrics(docs, "doc_id", "text", "n_chars")
      .filter(col("quality_ok") === 1)
      .select("doc_id")
    val kept = docs.join(okIds, "doc_id")
    val deduped = TextOps.dedupExact(kept, "doc_id", "text")
    Splits.assignSplit(deduped, "doc_id", SplitSalt, SplitWeights)
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("char_sum"),
        sum(Sketches.shingleHash(col("text"))).as("text_hash_sum"))
      .orderBy("split")
  }

  private val qCorpusPipelineSql: String =
    s"""WITH $qualityToksCteSql,
       |ok AS (SELECT doc_id FROM t WHERE $qualityOkCaseSql = 1),
       |kept AS (SELECT d.* FROM documents d JOIN ok USING (doc_id)),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
       |dd AS (SELECT k.* FROM kept k JOIN keepers USING (doc_id)),
       |labeled AS (SELECT doc_id, text, n_chars, $splitCaseSql AS split FROM dd)
       |SELECT split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       |       CAST(sum(${Oracle.shingleHash("text")}) AS BIGINT) AS text_hash_sum
       |FROM labeled GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mergeable-sketch distinct counts ([[Sketches.mergedDistinct]]):
    * per-(lang, source) HLL sketches union-merged per lang — the
    * persistable-partial-sketch pattern that makes corpus stats
    * incremental at 100 TB — tolerance-gated against the exact distinct
    * (the [[qApproxStats]] contract: a drifting estimate flips an
    * integer flag and fails the hash). */
  private def qSketchMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merged = Sketches.mergedDistinct(docs, "lang", "source", "text")
    val exact = docs.groupBy("lang").agg(countDistinct("text").as("exact_distinct"))
    merged.join(exact, "lang")
      .select(col("lang"), col("exact_distinct"),
        (abs(col("merged_estimate") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05 + 1.0).cast("int").as("merged_ok"))
      .orderBy("lang")
  }

  private val qSketchMergeSql: String =
    """SELECT lang,
      |       CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
      |       CAST(1 AS INTEGER) AS merged_ok
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  private val QuotaSalt = "mix1"

  /** Per-source document quota — below every fixture source's size ÷ 1.6,
    * so the over-quota rate-capping path is exercised at every sf. */
  private val SourceQuota = 15L

  /** North-star mixture balancing: cap every source at ~[[SourceQuota]]
    * docs via the rate-capped [[Splits.quotaSample]] (per-group count →
    * hash threshold → per-row filter; no corpus-wide window over the
    * low-cardinality group key), then certify the kept set per source by
    * count, char sum, and id checksum. */
  private def qQuotaSample(s: SparkSession, dir: String): DataFrame =
    Splits.quotaSample(Tables.documents(s, dir), "doc_id", "source", QuotaSalt, SourceQuota)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum("n_chars").as("char_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("source")

  private val qQuotaSampleSql: String = {
    val b = Splits.Buckets
    val bucket = Oracle.hashBucket("doc_id", QuotaSalt)
    s"""WITH th AS (
       |  SELECT source,
       |         least($b, CAST(floor(CAST(${SourceQuota * b} AS DOUBLE) / count(*)) AS BIGINT))
       |           AS keep_below
       |  FROM documents GROUP BY source)
       |SELECT d.source AS source,
       |       CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(d.n_chars) AS BIGINT) AS char_sum,
       |       CAST(sum(d.doc_id) AS BIGINT) AS id_sum
       |FROM documents d JOIN th ON d.source = th.source
       |WHERE $bucket < th.keep_below
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val ReservoirSalt = "panel1"

  /** Per-language fixture doc counts are ≥63 at every sf, so the
    * exact-N contract (not the all-rows passthrough) is exercised
    * everywhere. */
  private val ReservoirN = 20

  /** Exact-N per-group sampling ([[Splits.reservoirSample]], bottom-k
    * by hash): exactly [[ReservoirN]] docs per language with their
    * sample ranks — the eval-slice/audit-panel contract that
    * [[Splits.quotaSample]]'s rate-capped form deliberately does not
    * make. The oracle replays the identical 60-bit `md5(salt:id)` hash
    * order; the Spark plan keeps a partial WindowGroupLimit below the
    * exchange (PlanSpec), so only ≤ n rows per group per partition ever
    * shuffle. */
  private def qReservoirSample(s: SparkSession, dir: String): DataFrame =
    Splits.reservoirSample(Tables.documents(s, dir), "doc_id", "lang",
        ReservoirSalt, ReservoirN)
      .select("doc_id", "lang", "n_chars", "sample_rank")
      .orderBy("lang", "sample_rank")

  private val qReservoirSampleSql: String = {
    val hv = Oracle.hashValue("doc_id", ReservoirSalt)
    s"""WITH r AS (
       |  SELECT doc_id, lang, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY $hv ASC, doc_id ASC) AS sample_rank
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, CAST(sample_rank AS BIGINT) AS sample_rank
       |FROM r WHERE sample_rank <= $ReservoirN
       |ORDER BY lang, sample_rank""".stripMargin
  }

  private val GroupTopKN = 10

  /** Per-group top-k by value ([[Temporal.groupTopK]]): each language's
    * [[GroupTopKN]] longest documents with ranks — the
    * curriculum-selection shape, under the same partial-WindowGroupLimit
    * contract as [[qReservoirSample]] (by value instead of by hash). */
  private def qGroupTopk(s: SparkSession, dir: String): DataFrame =
    Temporal.groupTopK(Tables.documents(s, dir), "lang", "n_chars", "doc_id",
        GroupTopKN)
      .select("doc_id", "lang", "n_chars", "group_rank")
      .orderBy("lang", "group_rank")

  private val qGroupTopkSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, n_chars,
       |         ROW_NUMBER() OVER (PARTITION BY lang
       |                            ORDER BY n_chars DESC, doc_id ASC) AS group_rank
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, CAST(group_rank AS BIGINT) AS group_rank
       |FROM r WHERE group_rank <= $GroupTopKN
       |ORDER BY lang, group_rank""".stripMargin

  private val DomainBudgetTokens = 700L
  private val DomainBudgetBucket = 64L

  /** Priority = quality_ok DESC then doc_id ASC, packed into one
    * non-negative long (ids are far below 2^33 at every sf). */
  private val DomainBudgetOkBit = 1L << 33

  /** Per-domain token-budget selection ([[Budget.domainBudget]]) — the
    * "fill each domain's token cap with its best documents" mixing stage
    * of corpus assembly: quality-ordered docs kept while the source's
    * running token sum stays ≤ [[DomainBudgetTokens]]. The oracle replays
    * the naive windowed running sum; the Spark plan is the two-level
    * bucket decomposition — keep-whole/drop buckets resolved by a
    * broadcast-joined bucket-bounds frame, a per-row window over the ONE
    * boundary bucket per source — so no domain-cardinality exchange ever
    * sees the corpus. */
  private def qDomainBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val quality = TextOps.qualityMetrics(docs, "doc_id", "text", "n_chars")
      .select("doc_id", "n_tokens", "quality_ok")
    val scored = docs.select("doc_id", "source")
      .join(quality, "doc_id")
      .withColumn("__priority",
        (lit(1L) - col("quality_ok").cast("long")) * DomainBudgetOkBit
          + col("doc_id"))
    Budget.domainBudget(scored, Seq("source"), "__priority", "n_tokens",
        DomainBudgetTokens, DomainBudgetBucket)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_kept"),
        sum("n_tokens").as("tokens_kept"),
        sum("quality_ok").cast("long").as("quality_kept"),
        sum("doc_id").as("id_sum"))
      .orderBy("source")
  }

  private val qDomainBudgetSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, text, n_chars,
       |         ${Oracle.tokens("text")} AS toks
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, source,
       |         CAST(length(toks) AS BIGINT) AS n_tokens,
       |         CAST($qualityOkCaseSql AS BIGINT) AS ok
       |  FROM t),
       |c AS (
       |  SELECT doc_id, source, n_tokens, ok,
       |         sum(n_tokens) OVER (PARTITION BY source
       |           ORDER BY ok DESC, doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM q)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       |       CAST(sum(ok) AS BIGINT) AS quality_kept,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM c WHERE cum <= $DomainBudgetTokens
       |GROUP BY source ORDER BY source""".stripMargin

  private val ShardTokens = 1024L
  private val ShardBucket = 128L

  /** Budget-driven output sharding ([[Budget.shardAssign]]) — the final
    * training-shard write: each doc assigned the ~[[ShardTokens]]-token
    * shard its global running token offset starts in, reported as
    * per-shard manifests (doc count, token sum, contiguous id range).
    * The oracle is the naive GLOBAL running-sum window — the exact plan
    * shape that dies at scale (single-partition window); the Spark side
    * is the two-level bucketed running sum, whose only corpus-scale
    * shuffle is a well-distributed per-bucket window. */
  private def qShardAssign(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
    Budget.shardAssign(docs, "doc_id", "n_tokens", ShardTokens, ShardBucket)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("shard")
  }

  private val qShardAssignSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(length(${Oracle.tokens("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t)
       |SELECT CAST((cum - n_tokens) // $ShardTokens AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       |       CAST(min(doc_id) AS BIGINT) AS min_doc,
       |       CAST(max(doc_id) AS BIGINT) AS max_doc
       |FROM c GROUP BY 1 ORDER BY shard""".stripMargin

  private val EpochSalt = "epoch1"

  /** Epoch order key: 26 bits of salted hash above the 33-bit id — a
    * deterministic pseudo-random permutation with an id tie-break, all
    * inside 59 bits. */
  private val EpochHashMod = 1L << 26
  private val EpochIdBits = 33

  /** Order-space bucket for the two-level cumsum: `ord >> 45` keeps the
    * top 14 hash bits — ≤ 2^14 buckets, hash-balanced. */
  private val EpochOrderBucket = 1L << 45

  /** Deterministic epoch reshuffle + shard manifest: the between-epochs
    * "shuffle the corpus, re-cut the shards" step of a training-data
    * pipeline, WITHOUT a sort-by-random — the permutation is the salted
    * hash order (change [[EpochSalt]] → a new independent permutation,
    * reproducible forever), and the shard cut is [[Budget.shardAssign]]
    * over that order, so the only corpus-scale structure is the
    * hash-balanced per-bucket window. Each manifest row shows the shard's
    * doc count, token fill and distinct-source mix (the point of
    * shuffling: every shard samples all domains). At 100 TB the actual
    * write is `repartitionByRange(ord)` + the same manifest. */
  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(
      col("doc_id"), col("source"),
      TextOps.tokenCount(col("text")).as("n_tokens"))
    val ord = shiftleft(Splits.hashValue(col("doc_id"), EpochSalt) % EpochHashMod,
      EpochIdBits) + col("doc_id")
    Budget.shardAssign(docs.withColumn("__ord", ord), "__ord", "n_tokens",
        ShardTokens, EpochOrderBucket)
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        countDistinct("source").as("n_sources"),
        sum("doc_id").as("id_sum"))
      .orderBy("shard")
  }

  private val qEpochShuffleSql: String = {
    val hv = Oracle.hashValue("doc_id", EpochSalt)
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(length(${Oracle.tokens("text")}) AS BIGINT) AS n_tokens,
       |         ($hv % $EpochHashMod) * ${1L << EpochIdBits} + doc_id AS ord
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(sum(n_tokens) OVER (ORDER BY ord
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM t)
       |SELECT CAST((cum - n_tokens) // $ShardTokens AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM c GROUP BY 1 ORDER BY shard""".stripMargin
  }

  private val SampleSplitId = 400
  private val SampleSalt = "panelA"
  private val SampleN = 10

  /** Incremental eval-panel maintenance ([[Splits.reservoirAppend]]):
    * bottom-k by hash is mergeable, so the persisted per-source sample
    * absorbs the delta batch (docs at/above [[SampleSplitId]]) by
    * re-ranking `n·groups + |delta|` rows — the base corpus is never
    * re-scanned. Spark runs the genuine incremental path; the oracle
    * replays a FULL-corpus recompute — their equality IS the
    * mergeability claim (the [[qIndexAppend]] contract, for samples). */
  private def qSampleAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.filter(col("doc_id") < SampleSplitId)
    val delta = docs.filter(col("doc_id") >= SampleSplitId)
    val persisted = Splits.reservoirSample(base, "doc_id", "source", SampleSalt, SampleN)
    Splits.reservoirAppend(persisted, delta, "doc_id", "source", SampleSalt, SampleN)
      .select("doc_id", "source", "sample_rank")
      .orderBy("source", "sample_rank")
  }

  private val qSampleAppendSql: String = {
    val hv = Oracle.hashValue("doc_id", SampleSalt)
    s"""WITH r AS (
       |  SELECT doc_id, source,
       |         ROW_NUMBER() OVER (PARTITION BY source
       |                            ORDER BY $hv ASC, doc_id ASC) AS sample_rank
       |  FROM documents)
       |SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
       |FROM r WHERE sample_rank <= $SampleN
       |ORDER BY source, sample_rank""".stripMargin
  }

  private val SnapOldSalt = "snapA"
  private val SnapNewSalt = "snapB"
  private val SnapModSalt = "snapC"
  private val SnapKeep = 9000L // 90% of the hash space per snapshot
  private val SnapMod = 1000L  // 10% of new-snapshot docs get edited text

  /** Snapshot reconciliation ([[Sources.snapshotDiff]]): two
    * deterministically-derived crawls of the corpus (90% samples under
    * independent salts; 10% of the new crawl's docs edited) reconciled
    * into added/removed/changed/unchanged — certified by per-status
    * counts and id checksums. The diff exchange carries (id, md5) only. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val oldSnap = docs
      .filter(Splits.hashBucket(col("doc_id"), SnapOldSalt) < SnapKeep)
    val newSnap = docs
      .filter(Splits.hashBucket(col("doc_id"), SnapNewSalt) < SnapKeep)
      .withColumn("text",
        when(Splits.hashBucket(col("doc_id"), SnapModSalt) < SnapMod,
          concat(col("text"), lit("!"))).otherwise(col("text")))
    Sources.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
      .orderBy("status")
  }

  private val qSnapshotDiffSql: String = {
    def bucket(salt: String) = Oracle.hashBucket("doc_id", salt)
    s"""WITH o AS (
       |  SELECT doc_id, md5(text) AS h FROM documents
       |  WHERE ${bucket(SnapOldSalt)} < $SnapKeep),
       |n AS (
       |  SELECT doc_id,
       |         md5(CASE WHEN ${bucket(SnapModSalt)} < $SnapMod
       |                  THEN text || '!' ELSE text END) AS h
       |  FROM documents
       |  WHERE ${bucket(SnapNewSalt)} < $SnapKeep),
       |d AS (
       |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       |         CASE WHEN o.h IS NULL THEN 'added'
       |              WHEN n.h IS NULL THEN 'removed'
       |              WHEN o.h = n.h THEN 'unchanged'
       |              ELSE 'changed' END AS status
       |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
       |SELECT status,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val TempSalt = "temp1"
  private val TempTarget = 300L

  /** Temperature-based (α=0.5) mixture resampling over the skewed lang
    * distribution (en is ~40% of the corpus): expected kept ∝ √n_lang,
    * so tail languages are upweighted relative to en —
    * [[Splits.temperatureSample]], integer-exact thresholds. */
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    Splits.temperatureSample(Tables.documents(s, dir), "doc_id", "lang",
      TempSalt, TempTarget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang")

  private val qTemperatureMixSql: String = {
    val b = Splits.Buckets
    val bucket = Oracle.hashBucket("doc_id", TempSalt)
    s"""WITH c AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |         CAST(floor(sqrt(count(*)) * 1000) AS BIGINT) AS w
       |  FROM documents GROUP BY lang),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM c),
       |th AS (
       |  SELECT lang, least($b, ($TempTarget * w * $b) // (wsum * n)) AS keep_below
       |  FROM c CROSS JOIN t)
       |SELECT d.lang AS lang,
       |       CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(d.doc_id) AS BIGINT) AS id_sum
       |FROM documents d JOIN th ON d.lang = th.lang
       |WHERE $bucket < th.keep_below
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private val FilterMixSalt = "fm1"
  private val FilterMixTarget = 150L

  /** Classifier-gated mixture: the two r6 filtering stages composed as
    * ONE oracle row — hashed-BoW quality classifier
    * ([[TextOps.hashedLinearScore]], keep label=1) feeding α=0.5
    * temperature resampling ([[Splits.temperatureSample]]) over the
    * kept set, certified by per-language counts and id checksums. The
    * whole chain is integer arithmetic (score, sqrt-weights,
    * thresholds), so the composition replays exactly; scale shape is
    * the two stages' own (one (id,bucket) exchange + broadcast
    * thresholds + per-row hash filter — no corpus shuffle). */
  private def qFilterMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = docs.join(
      TextOps.hashedLinearScore(docs, "doc_id", "text", FeatureHashK)
        .filter(col("label") === 1).select("doc_id"),
      "doc_id")
    Splits.temperatureSample(kept, "doc_id", "lang", FilterMixSalt, FilterMixTarget)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  private val qFilterMixSql: String = {
    val b = Splits.Buckets
    val fbucket = featureBucketSql("token")
    val mixBucket = Oracle.hashBucket("k.doc_id", FilterMixSalt)
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${Oracle.tokens("text")}) AS token
       |  FROM documents),
       |fb AS (
       |  SELECT doc_id, $fbucket AS bucket, count(*) AS c
       |  FROM toks GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id,
       |         CAST(sum(c * (((bucket + 1) * 7919) % 193 - 96)) AS BIGINT) AS score_int
       |  FROM fb GROUP BY 1),
       |kept AS (
       |  SELECT d.doc_id, d.lang FROM documents d
       |  JOIN sc ON d.doc_id = sc.doc_id WHERE sc.score_int >= 0),
       |c AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
       |         CAST(floor(sqrt(count(*)) * 1000) AS BIGINT) AS w
       |  FROM kept GROUP BY lang),
       |t AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM c),
       |th AS (
       |  SELECT lang, least($b, ($FilterMixTarget * w * $b) // (wsum * n)) AS keep_below
       |  FROM c CROSS JOIN t)
       |SELECT k.lang AS lang,
       |       CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(sum(k.doc_id) AS BIGINT) AS id_sum
       |FROM kept k JOIN th ON k.lang = th.lang
       |WHERE $mixBucket < th.keep_below
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-group quantile quality cut: keep each language's top half by
    * length ([[Splits.quantileFilter]] at p=0.5 on the integer
    * `n_chars`) — the relative-to-group filter shape (no corpus window;
    * exact integer percentile is bit-identical cross-engine). */
  private def qQualityCut(s: SparkSession, dir: String): DataFrame =
    Splits.quantileFilter(Tables.documents(s, dir), "lang", "n_chars", 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum("n_chars").as("char_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")

  private val qQualityCutSql: String =
    """WITH th AS (
      |  SELECT lang, quantile_cont(n_chars, 0.5) AS q
      |  FROM documents GROUP BY lang)
      |SELECT d.lang AS lang,
      |       CAST(count(*) AS BIGINT) AS n_kept,
      |       CAST(sum(d.n_chars) AS BIGINT) AS char_sum,
      |       CAST(sum(d.doc_id) AS BIGINT) AS id_sum
      |FROM documents d JOIN th ON d.lang = th.lang
      |WHERE d.n_chars >= th.q
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val PackSalt = "pack1"
  private val PackShards = 8
  private val PackContext = 256

  /** North-star sequence packing ([[Packing.packingStats]]): the
    * pack-then-split training-batch layout, certified per shard by doc
    * and token totals, sequence counts, boundary-straddling docs, and
    * tail padding waste. */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame =
    Packing.packingStats(Tables.documents(s, dir), "doc_id", "text",
      PackSalt, PackShards, PackContext)
      .orderBy("shard")

  private val qPackSequencesSql: String = {
    val ctx = PackContext
    val bucket = Oracle.hashBucket("doc_id", PackSalt)
    s"""WITH base AS (
       |  SELECT doc_id, $bucket AS bucket, $bucket % $PackShards AS shard,
       |         CAST(length(${Oracle.tokens("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |cum AS (
       |  SELECT shard, n_tok,
       |         sum(n_tok) OVER (PARTITION BY shard ORDER BY bucket, doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS cend
       |  FROM base)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(max(cend) AS BIGINT) AS total_tokens,
       |       CAST(max((cend + ${ctx - 1}) // $ctx) AS BIGINT) AS n_sequences,
       |       CAST(sum(CASE WHEN (cend - n_tok) // $ctx <> (cend - 1) // $ctx
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
       |       CAST(max((cend + ${ctx - 1}) // $ctx) * $ctx - max(cend) AS BIGINT)
       |         AS tail_waste_tokens
       |FROM cum GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** The composed MIXTURE pipeline end-to-end, certified as ONE
    * oracle-checked query (the [[qCorpusPipeline]] contract, extended to
    * the round-5 stages): quality filter → segment-level dedup with
    * reassembly ([[TextOps.segmentDedup]] — later stages consume the
    * REASSEMBLED text) → per-source quota sampling
    * ([[Splits.quotaSample]], thresholds computed on the post-dedup
    * frame) → sequence packing layout ([[Packing.packingStats]] over
    * the deduped text). Certifies that the stages COMPOSE: join keys,
    * the dedup_text column flow, and the quota-before-packing ordering
    * all survive assembly. */
  private def qMixturePipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ok = TextOps.qualityMetrics(docs, "doc_id", "text", "n_chars")
      .filter(col("quality_ok") === 1)
      .select("doc_id")
    // materialize the quality-filtered corpus once: the dedup vote and the
    // join-back both read it, and re-deriving it would re-run the quality
    // regexes and the join — the qJaccardPairs staging pattern (at scale
    // this is the persisted output of the quality stage)
    val kept = docs.join(ok, "doc_id")
      .select("doc_id", "text", "source").localCheckpoint()
    // the survivor frame also feeds two consumers (doc-id set + reassembly):
    // one materialization, not two vote computations
    val surv = TextOps.survivingSegments(kept, "doc_id", "text", SegDedupSize)
      .localCheckpoint()
    // quota-sample on DOC ids (post-dedup doc set = docs with a surviving
    // segment), then reassemble ONLY the sampled docs — the ordered
    // collect_list never runs for documents the mixture discards
    val dedupDocs = surv.select("doc_id").distinct()
      .join(kept.select("doc_id", "source"), "doc_id")
    val sampledIds = Splits.quotaSample(dedupDocs, "doc_id", "source",
      QuotaSalt, SourceQuota)
      .select("doc_id")
    val packedDocs = TextOps.reassembleSegments(
      surv.join(sampledIds, "doc_id"), "doc_id")
    Packing.packingStats(packedDocs, "doc_id", "dedup_text",
      PackSalt, PackShards, PackContext)
      .orderBy("shard")
  }

  private val qMixturePipelineSql: String = {
    val b = Splits.Buckets
    val ctx = PackContext
    def bucket(salt: String) = Oracle.hashBucket("doc_id", salt)
    s"""WITH $qualityToksCteSql,
       |ok AS (SELECT doc_id FROM t WHERE $qualityOkCaseSql = 1),
       |kept AS (SELECT d.doc_id, d.text, d.source
       |         FROM documents d JOIN ok USING (doc_id)),
       |segs AS (
       |  SELECT doc_id, CAST(gs.i AS BIGINT) AS seg_index,
       |         substr(text, CAST(gs.i * $SegDedupSize + 1 AS INTEGER), $SegDedupSize) AS seg_text
       |  FROM kept CROSS JOIN generate_series(0, ${MaxSegs - 1}) gs(i)
       |  WHERE gs.i < greatest(CAST(ceil(length(text) / $SegDedupSize.0) AS BIGINT), 1)),
       |firsts AS (
       |  SELECT doc_id, seg_index, seg_text,
       |         row_number() OVER (PARTITION BY md5(seg_text)
       |                            ORDER BY doc_id, seg_index) AS rn
       |  FROM segs),
       |dd AS (
       |  SELECT doc_id, string_agg(seg_text, '' ORDER BY seg_index) AS dedup_text
       |  FROM firsts WHERE rn = 1 GROUP BY doc_id),
       |wm AS (SELECT dd.doc_id, dd.dedup_text, k.source
       |       FROM dd JOIN kept k USING (doc_id)),
       |th AS (
       |  SELECT source,
       |         least($b, CAST(floor(CAST(${SourceQuota * b} AS DOUBLE) / count(*)) AS BIGINT))
       |           AS keep_below
       |  FROM wm GROUP BY source),
       |qs AS (
       |  SELECT wm.doc_id, wm.dedup_text FROM wm JOIN th USING (source)
       |  WHERE ${bucket(QuotaSalt)} < th.keep_below),
       |base AS (
       |  SELECT doc_id, ${bucket(PackSalt)} AS pbucket,
       |         ${bucket(PackSalt)} % $PackShards AS shard,
       |         CAST(length(${Oracle.tokens("dedup_text")}) AS BIGINT) AS n_tok
       |  FROM qs),
       |cum AS (
       |  SELECT shard, n_tok,
       |         sum(n_tok) OVER (PARTITION BY shard ORDER BY pbucket, doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS cend
       |  FROM base)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(max(cend) AS BIGINT) AS total_tokens,
       |       CAST(max((cend + ${ctx - 1}) // $ctx) AS BIGINT) AS n_sequences,
       |       CAST(sum(CASE WHEN (cend - n_tok) // $ctx <> (cend - 1) // $ctx
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
       |       CAST(max((cend + ${ctx - 1}) // $ctx) * $ctx - max(cend) AS BIGINT)
       |         AS tail_waste_tokens
       |FROM cum GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** Source-format fidelity gate (beyond parquet): write documents as
    * JSON-lines and CSV, read each back with [[Sources]]' schema-explicit
    * PERMISSIVE readers, and emit per-format content checksums. The
    * oracle computes the SAME checksums straight from the parquet table —
    * equality proves the ingest formats lose nothing (row count, ids,
    * n_chars, an md5-derived text digest; summed mod 2³¹−1 so 60-bit
    * per-row digests cannot overflow BIGINT). */
  private def qSourceRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = Tables.scratchPath(s"q_source_rt_$safe")
    val docs = Tables.documents(s, dir)
    Sources.writeJsonl(docs, s"$base/jsonl")
    Sources.writeCsv(docs, s"$base/csv")
    val fromJson = Sources.good(Sources.jsonl(s, s"$base/jsonl", docs.schema))
    val fromCsv = Sources.good(Sources.csv(s, s"$base/csv", docs.schema))
    def sums(df: DataFrame, fmt: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        sum("doc_id").as("id_sum"),
        sum("n_chars").as("char_sum"),
        sum(Sketches.shingleHash(col("text"))).as("text_hash_sum"))
        .withColumn("fmt", lit(fmt))
        .select("fmt", "n_rows", "id_sum", "char_sum", "text_hash_sum")
    sums(fromCsv, "csv").unionByName(sums(fromJson, "jsonl")).orderBy("fmt")
  }

  private val qSourceRoundtripSql: String =
    s"""WITH s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |         CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |         CAST(sum(n_chars) AS BIGINT) AS char_sum,
       |         CAST(sum(${Oracle.shingleHash("text")}) AS BIGINT) AS text_hash_sum
       |  FROM documents)
       |SELECT 'csv' AS fmt, n_rows, id_sum, char_sum, text_hash_sum FROM s
       |UNION ALL
       |SELECT 'jsonl' AS fmt, n_rows, id_sum, char_sum, text_hash_sum FROM s
       |ORDER BY fmt""".stripMargin

  /** Partition-pruned scan (THE 100 TB scan-avoidance primitive): write
    * documents hive-partitioned by `lang`, read back with a partition
    * predicate, and checksum the survivors. At scale a `lang IN (…)`
    * predicate on a partitioned table skips every other partition at
    * PLANNING time — zero IO, zero tasks for pruned data (PlanSpec
    * asserts the scan's PartitionFilters + pruned file count; this row
    * certifies write → pruned read → results against the oracle reading
    * the unpartitioned table). */
  private def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val path = Tables.scratchPath(s"q_part_prune_$safe")
    Tables.documents(s, dir).write.mode("overwrite")
      .partitionBy("lang").parquet(path)
    s.read.parquet(path)
      .filter(col("lang").isin("en", "zh"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("doc_id").as("id_sum"),
        sum("n_chars").as("char_sum"),
        sum(Sketches.shingleHash(col("text"))).as("text_hash_sum"))
      .orderBy("lang")
  }

  private val qPartitionPruneSql: String =
    s"""SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       |       CAST(sum(${Oracle.shingleHash("text")}) AS BIGINT) AS text_hash_sum
       |FROM documents WHERE lang IN ('en', 'zh')
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Small-files compaction certified end-to-end: shatter documents
    * into 64 tiny parquet files (the streaming-sink pathology), rewrite
    * with [[Compaction.compact]] (sized from optimizer scan stats — no
    * extra filesystem pass), and emit content checksums plus an in-plan
    * fewer-files flag (the [[qApproxStats]] gate idiom: the oracle
    * hard-codes the flag true, so a compaction that stops shrinking
    * file counts flips it and fails the hash gate). */
  private def qCompaction(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val base = Tables.scratchPath(s"q_compaction_$safe")
    Tables.documents(s, dir).repartition(64)
      .write.mode("overwrite").parquet(s"$base/small")
    Compaction.compact(s, s"$base/small", s"$base/compact")
    def partFiles(p: String): Long =
      new java.io.File(p).listFiles((_, n) => n.startsWith("part-")).length.toLong
    s.read.parquet(s"$base/compact")
      .agg(
        count(lit(1)).as("n_rows"),
        sum("doc_id").as("id_sum"),
        sum("n_chars").as("char_sum"),
        sum(Sketches.shingleHash(col("text"))).as("text_hash_sum"))
      .withColumn("compacted_fewer",
        lit(partFiles(s"$base/compact") < partFiles(s"$base/small")).cast("int"))
  }

  private val qCompactionSql: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       |       CAST(sum(${Oracle.shingleHash("text")}) AS BIGINT) AS text_hash_sum,
       |       1 AS compacted_fewer
       |FROM documents""".stripMargin

  /** Co-located (bucketed) join through the catalog: both sides written
    * `bucketBy(vec_id)` with [[VectorTable.saveBucketed]], then
    * equi-joined — at scale two same-bucketed tables join with NO
    * shuffle (VectorTableSpec asserts the exchange-free plan; this row
    * certifies the write → catalog read → join RESULTS against the
    * oracle reading plain parquet). */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val safe = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (ta, tb) = (s"emb_bkt_a_$safe", s"emb_bkt_b_$safe")
    Seq(ta, tb).foreach(Tables.dropTable(s, _))
    val emb = Tables.embeddings(s, dir)
    val cfg = VectorTableConfig(EmbeddingDim, "cosine")
    VectorTable(emb.select("vec_id", "label"), cfg).saveBucketed(ta, 8)
    VectorTable(emb.select("vec_id").filter(col("vec_id") % 2 === 0), cfg)
      .saveBucketed(tb, 8)
    s.table(ta)
      .join(s.table(tb), "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("vec_id").as("id_sum"))
      .orderBy("label")
  }

  private val qBucketedJoinSql: String =
    """SELECT a.label, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(a.vec_id) AS BIGINT) AS id_sum
      |FROM embeddings a JOIN embeddings b ON a.vec_id = b.vec_id
      |WHERE b.vec_id % 2 = 0
      |GROUP BY a.label ORDER BY a.label""".stripMargin

  // ----------------------------------------------------------- registry ---

  val all: Seq[GraftQuery] = Seq(
    GraftQuery("q_knn_cosine", search(Metric.Cosine, Vec0Query),
      Some(searchSql(Metric.Cosine, Vec0Query))),
    GraftQuery("q_sql_surface", qSqlSurface, Some(searchSql(Metric.Cosine, Vec0Query))),
    GraftQuery("q_knn_dot", search(Metric.Dot, Vec0Query),
      Some(searchSql(Metric.Dot, Vec0Query))),
    GraftQuery("q_knn_euclid", search(Metric.Euclidean, Vec0Query),
      Some(searchSql(Metric.Euclidean, Vec0Query))),
    GraftQuery("q_filter_search", search(Metric.Cosine, Vec0Query, Some(3)),
      Some(searchSql(Metric.Cosine, Vec0Query, Some(3)))),
    GraftQuery("q_text_search", search(Metric.Cosine, TextQuery),
      Some(searchSql(Metric.Cosine, TextQuery))),
    GraftQuery("q_hash_search", search(Metric.Cosine, HashQuery),
      Some(searchSql(Metric.Cosine, HashQuery))),
    GraftQuery("q_knn_join", qKnnJoin, Some(qKnnJoinSql)),
    GraftQuery("q_normalize", qNormalize, Some(qNormalizeSql)),
    GraftQuery("q_chunks", qChunks, Some(qChunksSql)),
    GraftQuery("q_rag_context", qRagContext, Some(qRagContextSql)),
    GraftQuery("q_rag_chunks", qRagChunks, Some(qRagChunksSql)),
    GraftQuery("q_items", qItems, Some(qItemsSql)),
    GraftQuery("q_meta_filter", qMetaFilter, Some(qMetaFilterSql)),
    GraftQuery("q_dedup_exact", qDedupExact, Some(qDedupExactSql)),
    GraftQuery("q_seg_dedup", qSegDedup, Some(qSegDedupSql)),
    GraftQuery("q_vocab_topk", qVocabTopk, Some(qVocabTopkSql)),
    GraftQuery("q_trigram_topk", qTrigramTopk, Some(qTrigramTopkSql)),
    GraftQuery("q_lm_score", qLmScore, Some(qLmScoreSql)),
    GraftQuery("q_bpe_merge", qBpeMerge, Some(qBpeMergeSql)),
    GraftQuery("q_pmi_bigrams", qPmiBigrams, Some(qPmiBigramsSql)),
    GraftQuery("q_quality_funnel", qQualityFunnel, Some(qQualityFunnelSql)),
    GraftQuery("q_ccnet_buckets", qCcnetBuckets, Some(qCcnetBucketsSql)),
    GraftQuery("q_dsir_weights", qDsirWeights, Some(qDsirWeightsSql)),
    GraftQuery("q_host_stats", qHostStats, Some(qHostStatsSql)),
    GraftQuery("q_url_filter", qUrlFilter, Some(qUrlFilterSql)),
    GraftQuery("q_shared_spans", qSharedSpans, Some(qSharedSpansSql)),
    GraftQuery("q_span_scrub", qSpanScrub, Some(qSpanScrubSql)),
    GraftQuery("q_token_fertility", qTokenFertility, Some(qTokenFertilitySql)),
    GraftQuery("q_bpe_apply", qBpeApply, Some(qBpeApplySql)),
    GraftQuery("q_bpe_fertility", qBpeFertility, Some(qBpeFertilitySql)),
    GraftQuery("q_decontaminate", qDecontaminate, Some(qDecontaminateSql)),
    GraftQuery("q_neardup_pairs", qNearDupPairs, Some(qNearDupPairsSql)),
    GraftQuery("q_text_stats", qTextStats, Some(qTextStatsSql)),
    GraftQuery("q_multimodal", qMultimodal, Some(qMultimodalSql)),
    GraftQuery("q_save_load", qSaveLoad, Some(qSaveLoadSql)),
    GraftQuery("q_schema_evolution", qSchemaEvolution, Some(qSchemaEvolutionSql)),
    GraftQuery("q_source_roundtrip", qSourceRoundtrip, Some(qSourceRoundtripSql)),
    GraftQuery("q_partition_prune", qPartitionPrune, Some(qPartitionPruneSql)),
    GraftQuery("q_compaction", qCompaction, Some(qCompactionSql)),
    GraftQuery("q_anti_join", qAntiJoin, Some(qAntiJoinSql)),
    GraftQuery("q_split", qSplit, Some(qSplitSql)),
    GraftQuery("q_contamination", qContamination, Some(qContaminationSql)),
    GraftQuery("q_corpus_pipeline", qCorpusPipeline, Some(qCorpusPipelineSql)),
    GraftQuery("q_pipeline_e2e", qPipelineE2e, Some(qPipelineE2eSql)),
    GraftQuery("q_quota_sample", qQuotaSample, Some(qQuotaSampleSql)),
    GraftQuery("q_reservoir_sample", qReservoirSample, Some(qReservoirSampleSql)),
    GraftQuery("q_boilerplate_scrub", qBoilerplateScrub, Some(qBoilerplateScrubSql)),
    GraftQuery("q_sample_append", qSampleAppend, Some(qSampleAppendSql)),
    GraftQuery("q_group_topk", qGroupTopk, Some(qGroupTopkSql)),
    GraftQuery("q_domain_budget", qDomainBudget, Some(qDomainBudgetSql)),
    GraftQuery("q_shard_assign", qShardAssign, Some(qShardAssignSql)),
    GraftQuery("q_epoch_shuffle", qEpochShuffle, Some(qEpochShuffleSql)),
    GraftQuery("q_feature_hash", qFeatureHash, Some(qFeatureHashSql)),
    GraftQuery("q_quality_classifier", qQualityClassifier, Some(qQualityClassifierSql)),
    GraftQuery("q_classifier_trained", qClassifierTrained, Some(qClassifierTrainedSql)),
    GraftQuery("q_temperature_mix", qTemperatureMix, Some(qTemperatureMixSql)),
    GraftQuery("q_filter_mix", qFilterMix, Some(qFilterMixSql)),
    GraftQuery("q_snapshot_diff", qSnapshotDiff, Some(qSnapshotDiffSql)),
    GraftQuery("q_quality_cut", qQualityCut, Some(qQualityCutSql)),
    GraftQuery("q_pack_sequences", qPackSequences, Some(qPackSequencesSql)),
    GraftQuery("q_mixture_pipeline", qMixturePipeline, Some(qMixturePipelineSql)),
    GraftQuery("q_sketch_merge", qSketchMerge, Some(qSketchMergeSql)),
    GraftQuery("q_quantize", qQuantize, Some(qQuantizeSql)),
    GraftQuery("q_dim_reduce", qDimReduce, Some(qDimReduceSql)),
    GraftQuery("q_label_centroids", qLabelCentroids, Some(qLabelCentroidsSql)),
    GraftQuery("q_percentiles", qPercentiles, Some(qPercentilesSql)),
    GraftQuery("q_approx_stats", qApproxStats, Some(qApproxStatsSql)),
    GraftQuery("q_bucketed_join", qBucketedJoin, Some(qBucketedJoinSql)),
    GraftQuery("q_ann_lsh", qAnnLsh, Some(qAnnLshSql)),
    GraftQuery("q_ann_lsh_multi",
      (s, d) => annServe(s, d, multiband(s, d, LshMultiBits, LshMultiBands, None)),
      Some(annServeSql(s"$LshMultiBits", multibandSql(LshMultiBands, None)))),
    GraftQuery("q_ann_capped",
      (s, d) => annServe(s, d, multiband(s, d, LshMultiBits, LshMultiBands, Some(AnnCapFactor))),
      Some(annServeSql(s"$LshMultiBits", multibandSql(LshMultiBands, Some(AnnCapFactor))))),
    GraftQuery("q_ann_capped_scaled",
      (s, d) => annServe(s, d, multiband(s, d, scaledLshBits(embCount(s, d)),
        ScaledCapBands, Some(AnnCapFactor))),
      Some(annServeSql(ScaledLshBitsSql, multibandSql(ScaledCapBands, Some(AnnCapFactor))))),
    GraftQuery("q_ann_recall",
      (s, d) => annRecall(s, d, RecallSampleMod,
        multiband(s, d, RecallBits, RecallBands, None)),
      Some(annRecallSql(s"$RecallBits", s"$RecallSampleMod",
        multibandSql(RecallBands, None)))),
    GraftQuery("q_ann_recall_capped",
      (s, d) => annRecall(s, d, RecallSampleMod,
        multiband(s, d, RecallBits, RecallBands, Some(RecallCapFactor))),
      Some(annRecallSql(s"$RecallBits", s"$RecallSampleMod",
        multibandSql(RecallBands, Some(RecallCapFactor))))),
    GraftQuery("q_ann_recall_capped_scaled",
      (s, d) => annRecall(s, d, scaledEvalMod(embCount(s, d)),
        multiband(s, d, scaledLshBits(embCount(s, d)), ScaledCapBands, Some(AnnCapFactor))),
      Some(annRecallSql(ScaledLshBitsSql, ScaledEvalModSql,
        multibandSql(ScaledCapBands, Some(AnnCapFactor))))),
    GraftQuery("q_ann_recall_capped_scaled_b4",
      (s, d) => annRecall(s, d, scaledEvalMod(embCount(s, d)),
        multiband(s, d, scaledLshBits(embCount(s, d)), ScaledCapBandsB4, Some(AnnCapFactor))),
      Some(annRecallSql(ScaledLshBitsSql, ScaledEvalModSql,
        multibandSql(ScaledCapBandsB4, Some(AnnCapFactor))))),
    GraftQuery("q_ann_multiprobe",
      (s, d) => annServe(s, d, multiprobe(s, d, LshMultiBits, None)),
      Some(annServeSql(s"$LshMultiBits", multiprobeSql(None)))),
    GraftQuery("q_ann_multiprobe_scaled",
      (s, d) => annServe(s, d, multiprobe(s, d, scaledProbeBits(embCount(s, d)), None)),
      Some(annServeSql(ScaledProbeBitsSql, multiprobeSql(None)))),
    GraftQuery("q_ann_multiprobe_capped_scaled",
      (s, d) => annServe(s, d,
        multiprobe(s, d, scaledProbeBits(embCount(s, d)), Some(AnnCapFactor))),
      Some(annServeSql(ScaledProbeBitsSql, multiprobeSql(Some(AnnCapFactor))))),
    GraftQuery("q_ann_recall_multiprobe_scaled",
      (s, d) => annRecall(s, d, scaledEvalMod(embCount(s, d)),
        multiprobe(s, d, scaledProbeBits(embCount(s, d)), Some(AnnCapFactor))),
      Some(annRecallSql(ScaledProbeBitsSql, ScaledEvalModSql,
        multiprobeSql(Some(AnnCapFactor))))),
    GraftQuery("q_index_append", qIndexAppend, Some(qIndexAppendSql)),
    GraftQuery("q_index_compact", qIndexCompact, Some(qIndexCompactSql)),
    GraftQuery("q_ann_ivf", (s, d) => annIvf(s, d, IvfCells), Some(annIvfSql(s"$IvfCells"))),
    GraftQuery("q_ann_ivf_scaled", (s, d) => annIvf(s, d, scaledIvfCells(embCount(s, d))),
      Some(annIvfSql(ScaledIvfCellsSql))),
    GraftQuery("q_semantic_dedup", (s, d) => semanticDedup(s, d, IvfCells),
      Some(semanticDedupSql(s"$IvfCells"))),
    GraftQuery("q_semantic_dedup_scaled",
      (s, d) => semanticDedup(s, d, scaledIvfCells(embCount(s, d))),
      Some(semanticDedupSql(ScaledIvfCellsSql))),
    GraftQuery("q_pq_search", (s, d) => pqSearch(s, d, PqKsub), Some(pqSearchSql(s"$PqKsub"))),
    GraftQuery("q_pq_search_scaled", (s, d) => pqSearch(s, d, scaledPqKsub(embCount(s, d))),
      Some(pqSearchSql(ScaledPqKsubSql))),
    GraftQuery("q_ivfpq_search", (s, d) => ivfPq(s, d, IvfCells, PqKsub, IvfPqProbes, None),
      Some(ivfPqSql(s"$IvfCells", s"$PqKsub", IvfPqProbes, None))),
    GraftQuery("q_ivfpq_search_scaled",
      (s, d) => ivfPq(s, d, scaledIvfCells(embCount(s, d)), scaledPqKsub(embCount(s, d)),
        IvfPqProbes, None),
      Some(ivfPqSql(ScaledIvfCellsSql, ScaledPqKsubSql, IvfPqProbes, None))),
    GraftQuery("q_ivfpq_refine",
      (s, d) => ivfPq(s, d, IvfCells, PqKsub, IvfPqRefineProbes, Some(IvfPqRefineCandidates)),
      Some(ivfPqSql(s"$IvfCells", s"$PqKsub", IvfPqRefineProbes,
        Some(IvfPqRefineCandidates)))),
    GraftQuery("q_ivfpq_refine_scaled",
      (s, d) => ivfPq(s, d, scaledIvfCells(embCount(s, d)), scaledPqKsub(embCount(s, d)),
        IvfPqRefineProbes, Some(IvfPqRefineCandidates)),
      Some(ivfPqSql(ScaledIvfCellsSql, ScaledPqKsubSql, IvfPqRefineProbes,
        Some(IvfPqRefineCandidates)))),
    GraftQuery("q_ivf_refine_gate", (s, d) => ivfRefineGate(s, d, IvfCells),
      Some(ivfRefineGateSql(s"$IvfCells"))),
    GraftQuery("q_ivf_refine_gate_scaled",
      (s, d) => ivfRefineGate(s, d, scaledIvfCells(embCount(s, d))),
      Some(ivfRefineGateSql(ScaledIvfCellsSql))),
    GraftQuery("q_rerank", qRerank, Some(qRerankSql)),
    GraftQuery("q_bloom_prefilter", qBloomPrefilter, Some(qBloomPrefilterSql)),
    GraftQuery("q_contrastive_pairs",
      (s, d) => contrastivePairs(s, d, PairsAnchorMod, broadcastAnchors = false),
      Some(contrastivePairsSql(s"$PairsAnchorMod"))),
    GraftQuery("q_contrastive_pairs_scaled",
      (s, d) => contrastivePairs(s, d, scaledEvalMod(embCount(s, d)), broadcastAnchors = true),
      Some(contrastivePairsSql(ScaledEvalModSql))),
    GraftQuery("q_mmr_diversify", qMmrDiversify, Some(qMmrDiversifySql)),
    GraftQuery("q_zorder_layout", qZorderLayout, Some(qZorderLayoutSql)),
    GraftQuery("q_funnel", qFunnel, Some(qFunnelSql)),
    GraftQuery("q_retention", qRetention, Some(qRetentionSql)),
    GraftQuery("q_burst_detect", qBurstDetect, Some(qBurstDetectSql)),
    GraftQuery("q_attribution", qAttribution, Some(qAttributionSql)),
    GraftQuery("q_frame_sample", qFrameSample, Some(qFrameSampleSql)),
    GraftQuery("q_profile", qProfile, Some(qProfileSql)),
    GraftQuery("q_split_leakage", (s, d) => splitLeakage(s, d, IvfCells),
      Some(splitLeakageSql(s"$IvfCells"))),
    GraftQuery("q_split_leakage_scaled",
      (s, d) => splitLeakage(s, d, scaledIvfCells(embCount(s, d))),
      Some(splitLeakageSql(ScaledIvfCellsSql))),
    GraftQuery("q_cms_counts", qCmsCounts, Some(qCmsCountsSql)),
    GraftQuery("q_phrase_search", qPhraseSearch, Some(qPhraseSearchSql)),
    GraftQuery("q_fuzzy_match", qFuzzyMatch, Some(qFuzzyMatchSql)),
    GraftQuery("q_scd2", qScd2, Some(qScd2Sql)),
    GraftQuery("q_serving_stack", qServingStack, Some(qServingStackSql)),
    GraftQuery("q_kfold", qKfold, Some(qKfoldSql)),
    GraftQuery("q_sim_histogram", qSimHistogram, Some(qSimHistogramSql)),
    GraftQuery("q_fk_check", qFkCheck, Some(qFkCheckSql)),
    GraftQuery("q_dedup_audit", qDedupAudit, Some(qDedupAuditSql)),
    GraftQuery("q_resize_plan", qResizePlan, Some(qResizePlanSql)),
    GraftQuery("q_minhash_sig", qMinhashSig, Some(qMinhashSigSql)),
    GraftQuery("q_fingerprint", qFingerprint, Some(qFingerprintSql)),
    GraftQuery("q_fingerprint_pairs", qFingerprintPairs, Some(qFingerprintPairsSql)),
    GraftQuery("q_neardup_minhash", qNearDupMinhash, Some(qNearDupMinhashSql)),
    GraftQuery("q_neardup_capped", qNeardupCapped, Some(qNeardupCappedSql)),
    GraftQuery("q_dedup_clusters", qDedupClusters, Some(qDedupClustersSql)),
    GraftQuery("q_cluster_weights", qClusterWeights, Some(qClusterWeightsSql)),
    GraftQuery("q_neardup_incremental", qNeardupIncremental, Some(qNeardupIncrementalSql)),
    GraftQuery("q_simhash", qSimhash, Some(qSimhashSql)),
    GraftQuery("q_text_quality", qTextQuality, Some(qTextQualitySql)),
    GraftQuery("q_scrub_text", qScrubText, Some(qScrubTextSql)),
    GraftQuery("q_repetition", qRepetition, Some(qRepetitionSql)),
    GraftQuery("q_bm25", qBm25, Some(qBm25Sql)),
    GraftQuery("q_hybrid_search", qHybridSearch, Some(qHybridSearchSql)),
    GraftQuery("q_lang_id", qLangId, Some(qLangIdSql)),
    GraftQuery("q_jaccard_pairs", qJaccardPairs, Some(qJaccardPairsSql)),
    GraftQuery("q_media_features", qMediaFeatures, Some(qMediaFeaturesSql)),
    GraftQuery("q_events_window", qEventsWindow, Some(qEventsWindowSql)),
    GraftQuery("q_stream_ingest", qStreamIngest, Some(qStreamIngestSql)),
    GraftQuery("q_stream_dedup", qStreamDedup, Some(qStreamDedupSql)),
    GraftQuery("q_stream_pairs", qStreamPairs, Some(qStreamPairsSql)),
    GraftQuery("q_stream_enrich", qStreamEnrich, Some(qStreamEnrichSql)),
    GraftQuery("q_stream_upsert", qStreamUpsert, Some(qStreamUpsertSql)),
    GraftQuery("q_stream_burst", qStreamBurst, Some(qStreamBurstSql)),
    GraftQuery("q_stream_index", qStreamIndex, Some(qStreamIndexSql)),
    GraftQuery("q_stream_compact", qStreamCompact, Some(qStreamCompactSql)),
    GraftQuery("q_stream_sessions", qStreamSessions, Some(qStreamSessionsSql)),
    GraftQuery("q_stream_codes", qStreamCodes, Some(qStreamCodesSql)),
    GraftQuery("q_stream_features", qStreamFeatures, Some(qStreamFeaturesSql)),
    GraftQuery("q_events_sliding", qEventsSliding, Some(qEventsSlidingSql)),
    GraftQuery("q_sessionize", qSessionize, Some(qSessionizeSql)),
    GraftQuery("q_keep_first", qKeepFirst, Some(qKeepFirstSql)),
    GraftQuery("q_salted_join", qSaltedJoin, Some(qSaltedJoinSql)),
    GraftQuery("q_event_props", qEventProps, Some(qEventPropsSql)),
    GraftQuery("q_event_pairs", qEventPairs, Some(qEventPairsSql)),
    GraftQuery("q_asof_join", qAsofJoin, Some(qAsofJoinSql)),
    GraftQuery("q_range_join", (s, d) => rangeJoin(s, d, march1995),
      Some(rangeJoinSql(March1995Sql))),
    GraftQuery("q_range_join_sparse", (s, d) => rangeJoin(s, d, marchOpenings),
      Some(rangeJoinSql(MarchOpeningsSql))),
    GraftQuery("q_overlap_join", (s, d) => overlapJoin(s, d, march1995),
      Some(overlapJoinSql(March1995Sql))),
    GraftQuery("q_overlap_join_sparse", (s, d) => overlapJoin(s, d, marchOpenings),
      Some(overlapJoinSql(MarchOpeningsSql))),
    GraftQuery("q_pricing_summary", qPricingSummary, Some(qPricingSummarySql)),
    GraftQuery("q_revenue_by_nation", qRevenueByNation, Some(qRevenueByNationSql)),
    GraftQuery("q_top_customers", qTopCustomers, Some(qTopCustomersSql)),
    GraftQuery("q_order_ranks", qOrderRanks, Some(qOrderRanksSql)),
    GraftQuery("q_set_ops", qSetOps, Some(qSetOpsSql)),
    GraftQuery("q_rollup", qRollup, Some(qRollupSql)),
    GraftQuery("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    GraftQuery("q_pivot", qPivot, Some(qPivotSql)),
    GraftQuery("q_running_total", qRunningTotal, Some(qRunningTotalSql)),
    GraftQuery("q_insert", qInsert, Some(qInsertSql)),
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
