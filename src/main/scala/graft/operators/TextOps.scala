package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface: chunking
  * (reference rag.py:17-24), token counting, per-language stats, and
  * exact deduplication.
  *
  * Scale design: everything here is a narrow per-row projection or a
  * hash-partitioned `groupBy` — the aggregations are partial
  * (map-side combine) and shuffle only the grouped keys, never the text
  * itself unless it is the key.
  */
object TextOps {

  /** Fixed character-window chunks of `text` (reference `_chunk_text`,
    * rag.py:17-24), preserving the empty-text → one-empty-chunk rule
    * (rag.py:22-23). Result: `ARRAY<STRING>` in document order. */
  def chunk(text: Column, chunkSize: Int): Column = {
    val nChunks = greatest(ceil(length(text) / lit(chunkSize.toDouble)).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => text.substr(i * chunkSize + 1, lit(chunkSize)))
  }

  /** Explode a document table into `(idCol, chunk_index BIGINT,
    * chunk_text STRING)` — the ingest half of the reference's
    * `build_rag_index` (rag.py:27-52): `chunk_index` is the reference's
    * per-document `chunk_index`, `idCol` plays `doc_index`. */
  def chunkDocuments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int): DataFrame =
    docs
      .select(col(idCol),
        posexplode(chunk(col(textCol), chunkSize)).as(Seq("chunk_index", "chunk_text")))
      .withColumn("chunk_index", col("chunk_index").cast("long"))

  /** Whitespace token count. Texts are trimmed first so leading/trailing
    * blanks don't mint empty tokens; empty text counts 1 (the single
    * empty token both Spark `split` and DuckDB `string_split_regex`
    * produce). */
  def tokenCount(text: Column): Column =
    size(tokens(text)).cast("long")

  /** Per-language corpus statistics (north-star text analysis): doc
    * count, char and token sums and means. Means are computed as
    * `sum::double / count` (exact integer sums, then one division) so
    * they are bit-reproducible across engines — never engine `avg`,
    * whose accumulation order varies. */
  def textStats(docs: DataFrame, langCol: String, nCharsCol: String, textCol: String): DataFrame = {
    val n = count(lit(1))
    docs
      .select(col(langCol), col(nCharsCol), tokenCount(col(textCol)).as("__tok"))
      .groupBy(langCol)
      .agg(
        n.as("n_docs"),
        sum(nCharsCol).as("sum_chars"),
        (sum(nCharsCol).cast("double") / n).as("avg_chars"),
        sum("__tok").as("sum_tokens"),
        (sum("__tok").cast("double") / n).as("avg_tokens"))
      .orderBy(langCol)
  }

  /** Exact-duplicate groups by content hash (north-star dedup): one row
    * per distinct `textCol` value with the group size and the smallest
    * id as the canonical keeper. MD5 of the UTF-8 bytes is the group
    * key — at 100 TB the shuffle carries 32-byte hashes, not documents,
    * and the aggregation is partial map-side. */
  def dedupExactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(idCol).as("keeper_id"))
      .orderBy("text_hash")

  /** Keep one row per distinct `textCol` (the keeper = min id): the
    * apply-side of [[dedupExactGroups]]. */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = dedupExactGroups(docs, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    docs.join(keepers, idCol)
  }

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), " +")

  /** English stopwords used by the quality score. */
  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
    * marks — the usual coarse proxy for subword token counts when no
    * tokenizer model is available. Identical regex semantics in Java
    * regex (Spark) and RE2 (DuckDB). */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** North-star quality scoring — per-document heuristics in the style
    * of large-corpus filtering pipelines (length, token shape, alphabetic
    * and stopword ratios) plus a combined keep/drop flag. All ratios are
    * exact-integer-count divisions, so they reproduce bit-for-bit in any
    * engine. One narrow projection per row: no shuffle at all. */
  def qualityMetrics(
      docs: DataFrame, idCol: String, textCol: String, nCharsCol: String): DataFrame = {
    val text = col(textCol)
    // token array materialized once per row — the stopword filter is an
    // interpreted HOF, so an inline `tokens(text)` child would re-run
    // the regex split per expression (see wordNgramsOfTokens)
    val toks = col("__toks")
    val nTokens = size(toks).cast("long")
    val meanTokenLen =
      length(regexp_replace(text, " ", "")).cast("double") / nTokens
    val alphaRatio =
      length(regexp_replace(text, "[^a-z]", "")).cast("double") / col(nCharsCol)
    val stopRatio =
      size(filter(toks, t => t.isInCollection(EnStopwords))).cast("double") / nTokens
    val bpeTokens = size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0))).cast("long")
    // regex-heavy per-row projection: spread a single-file input first
    Partitioning.spread(docs)
      .withColumn("__toks", tokens(text))
      .select(
      col(idCol),
      nTokens.as("n_tokens"),
      bpeTokens.as("bpe_tokens"),
      meanTokenLen.as("mean_token_len"),
      alphaRatio.as("alpha_ratio"),
      stopRatio.as("stop_ratio"))
      .withColumn("quality_ok",
        (col("n_tokens").between(5, 2000) &&
          col("mean_token_len").between(2.0, 12.0) &&
          col("alpha_ratio") >= 0.6 &&
          col("stop_ratio") <= 0.5).cast("int"))
  }

  /** Pattern-based redaction — the PII/boilerplate scrub stage of a
    * corpus pipeline (emails, phone numbers, ToS boilerplate). Each
    * (pattern, replacement) pair is applied in order as a global
    * `regexp_replace`; `n_redactions` counts matches on the ORIGINAL
    * text (before any replacement) so per-source audits measure scrub
    * pressure independent of pattern order. Pure per-row projection —
    * no shuffle, codegen regex, the shape that sweeps 100 TB at scan
    * speed. Patterns must stay in the Java-regex ∩ RE2 dialect
    * (character classes, `\b`, `+`) so the DuckDB oracle replays them
    * exactly. */
  def scrub(
      docs: DataFrame, textCol: String,
      patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "scrub needs at least one pattern")
    val text = col(textCol)
    val hits = patterns
      .map { case (p, _) =>
        size(regexp_extract_all(text, lit(p), lit(0))).cast("long") }
      .reduce(_ + _)
    val cleaned = patterns.foldLeft(text) {
      case (c, (p, r)) => regexp_replace(c, p, r)
    }
    // regex-heavy per-row projection: spread a single-file input first
    Partitioning.spread(docs)
      .withColumn("scrubbed", cleaned)
      .withColumn("n_redactions", hits)
  }

  /** Within-document repetition metrics — the C4/Gopher-style filters
    * that catch boilerplate and degenerate (looping) text: duplicate
    * token-bigram fraction and most-common-token fraction. All ratios
    * are EXACT integer milli-fractions (`(x·1000) div n`), so they
    * reproduce bit-for-bit in any engine. Pure per-row projection: the
    * per-doc O(tokens) work stays inside the row (documents are
    * KB-bounded), no shuffle — the shape that sweeps 100 TB at scan
    * speed. Single-token docs have no bigrams (counts 0, fraction 0).
    *
    * The four counters come from ONE pass of the codegen
    * [[graft.expressions.TextExpressions.TextRepetitionStats]] kernel —
    * the earlier HOF form (bigram transform → array_distinct →
    * array_sort + aggregate run-scan) was CodegenFallback and cost
    * ~2.1s over sf0.1 in interpreted array churn (TextRepetitionSpec
    * pins count parity against an independent Scala model). */
  def repetitionMetrics(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = Partitioning.spread(docs)
      .select(col(idCol),
        graft.expressions.TextExpressions.repetitionStats(col(textCol)).as("__s"))
      .select(
        col(idCol),
        col("__s.n_tokens").as("n_tokens"),
        col("__s.n_bigrams").as("n_bigrams"),
        col("__s.n_distinct_bigrams").as("n_distinct_bigrams"),
        col("__s.top_token_n").as("top_token_n"))
    counts.select(
      col(idCol),
      col("n_tokens"),
      col("n_bigrams"),
      col("n_distinct_bigrams"),
      when(col("n_bigrams") > 0,
        ((col("n_bigrams") - col("n_distinct_bigrams")) * 1000L) / col("n_bigrams"))
        .otherwise(lit(0L)).cast("long").as("dup_bigram_milli"),
      col("top_token_n"),
      (col("top_token_n") * 1000L / col("n_tokens")).cast("long").as("top_token_milli"))
  }

  /** Segment-level exact dedup with document reassembly — the
    * CCNet/RefinedWeb-style paragraph dedup, run over fixed [[chunk]]
    * windows because this corpus has no paragraph marks: every segment
    * keeps only its FIRST corpus occurrence (ordered by (doc id,
    * segment index)), later copies are cut, and each document is
    * reassembled from its surviving segments in order. A document whose
    * every segment appeared earlier vanishes entirely.
    *
    * Scale shape: the first-occurrence vote shuffles `(md5, packed
    * position)` — a 32-byte hash plus ONE long per segment, never the
    * text: `(doc_id, seg_index)` packs into a single BIGINT
    * (`doc_id·2²⁰ + seg_index`; lexicographic == numeric order) so the
    * `min` has a mutable long buffer and Spark plans a partial map-side
    * HashAggregate — a struct-min buffer would force SortAggregate, the
    * round-2 minhash mistake. The winner set then equi-joins BACK to the
    * exploded segments on (doc_id, seg_index) (hash-keyed; AQE
    * broadcasts it when small), so segment text crosses the wire exactly
    * once, in the doc-keyed reassembly shuffle. The segment explode runs
    * twice (vote side + join side) — deliberate: segments are substring
    * arithmetic over a pruned parquet scan, and re-deriving them beats
    * materializing corpus-sized segment text between stages.
    *
    * Output: `(idCol, kept_segs BIGINT, kept_chars BIGINT, dedup_text
    * STRING)` — `dedup_text` is the reassembled document, ready for the
    * downstream pipeline stages (token counts, packing, re-embedding). */
  /** Bits reserved for the segment index inside the packed position. */
  private val PosPackBits = 20
  private val PosPack = 1L << PosPackBits

  def segmentDedup(
      docs: DataFrame, idCol: String, textCol: String, segSize: Int): DataFrame =
    reassembleSegments(survivingSegments(docs, idCol, textCol, segSize), idCol)

  /** The dedup half of [[segmentDedup]]: the surviving `(idCol,
    * seg_index, seg_text)` rows — each segment's first corpus occurrence.
    * Split out so pipelines can push doc-level filters (quota sampling,
    * split assignment) BELOW the reassembly: deciding which docs to keep
    * needs only ids, so reassembling first and discarding after pays the
    * ordered `collect_list` for rows that die anyway. */
  def survivingSegments(
      docs: DataFrame, idCol: String, textCol: String, segSize: Int): DataFrame = {
    val segs = chunkDocuments(Partitioning.spread(docs), idCol, textCol, segSize)
      .withColumnRenamed("chunk_index", "seg_index")
      .withColumnRenamed("chunk_text", "seg_text")
    // KB-bounded docs keep seg_index far under 2^20; ids stay under 2^43
    val firsts = segs
      .groupBy(md5(col("seg_text").cast("binary")).as("seg_hash"))
      .agg(min(col(idCol) * PosPack + col("seg_index")).as("first_pos"))
      .select(shiftright(col("first_pos"), PosPackBits).as(idCol),
        col("first_pos").bitwiseAND(PosPack - 1).as("seg_index"))
    segs.join(firsts, Seq(idCol, "seg_index"))
  }

  /** Document-frequency boilerplate cut — the OTHER CCNet frequent-line
    * rule: a segment occurring in `minDf`-or-more DISTINCT documents is
    * boilerplate (headers, nav bars, license blocks) and EVERY copy is
    * removed — including the first, which [[segmentDedup]]'s
    * keep-first-occurrence rule would preserve. Documents reassemble
    * from their surviving segments; a document that was all boilerplate
    * vanishes.
    *
    * Scale shape: df is exact WITHOUT `count(distinct)` — dedup
    * `(seg_hash, doc)` first, then count (the [[vocabTopK]] two-level
    * pattern; both exchanges carry a 32-byte hash plus an id). The cut
    * itself anti-joins `(id, seg_index, seg_hash)` key rows — never
    * text — against the frequent-hash set (Zipfian corpus repetition
    * makes that set heavy-hitter-small, so AQE broadcasts it); segment
    * text crosses the wire exactly once, in the doc-keyed reassembly,
    * same as [[survivingSegments]]. */
  def scrubFrequentSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segSize: Int,
      minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf below 2 would scrub every segment, got $minDf")
    val segs = chunkDocuments(Partitioning.spread(docs), idCol, textCol, segSize)
      .withColumnRenamed("chunk_index", "seg_index")
      .withColumnRenamed("chunk_text", "seg_text")
    val hashed = segs.select(col(idCol), col("seg_index"),
      md5(col("seg_text").cast("binary")).as("seg_hash"))
    val frequent = hashed.select(col("seg_hash"), col(idCol)).distinct()
      .groupBy("seg_hash").agg(count(lit(1)).as("seg_df"))
      .filter(col("seg_df") >= minDf)
      .select("seg_hash")
    val kept = hashed.join(frequent, Seq("seg_hash"), "left_anti")
      .select(col(idCol), col("seg_index"))
    reassembleSegments(segs.join(kept, Seq(idCol, "seg_index")), idCol)
  }

  /** The reassembly half of [[segmentDedup]]: surviving segments back
    * into documents, in segment order. */
  def reassembleSegments(segs: DataFrame, idCol: String): DataFrame =
    segs.groupBy(idCol)
      .agg(
        count(lit(1)).as("kept_segs"),
        sum(length(col("seg_text"))).cast("long").as("kept_chars"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_index"), col("seg_text")))),
          seg => seg("seg_text")), "").as("dedup_text"))

  /** Hashing-trick bag-of-words featurizer (the HashingVectorizer /
    * Weinberger et al. 2009 layout): token → bucket =
    * `shingleHash(token) mod k`, per-doc bucket counts in sparse COO
    * form `(idCol, bucket BIGINT, count BIGINT)`. The point at corpus
    * scale is being VOCABULARY-FREE: no dictionary build, no broadcast
    * of a vocab table, no drift when new tokens appear — a token hashes
    * to the same bucket on every engine, run, and partition, so
    * features from different corpus slices concatenate trivially.
    * Downstream: linear classifiers, cheap doc similarity, duplicate
    * screening where embeddings are overkill.
    *
    * Scale shape: explode → ONE partial-final HashAggregate pair keyed
    * (id, bucket); the exchange carries two longs and a count per
    * nonzero — token strings never shuffle ([[Sketches.shingleHash]]'s
    * md5 runs map-side). */
  def featureHash(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"bucket count must be positive, got $k")
    Partitioning.spread(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("__token"))
      .groupBy(col(idCol),
        (Sketches.shingleHash(col("__token")) % k).as("bucket"))
      .agg(count(lit(1)).as("count"))
  }

  /** Linear classifier forward pass over [[featureHash]]ed features —
    * the GPT-3/CCNet data-filtering pattern: a logistic-regression-style
    * quality classifier over hashed bag-of-words, scoring documents
    * for keep/drop without a vocabulary or an embedding model. The
    * weight VALUES here are the deterministic arithmetic family
    * (`w(b) = ((b+1)·7919 mod 193) − 96`, integers in [−96, 96]) — a
    * stand-in for trained weights exactly as the deterministic embedder
    * stands in for a trained encoder (training is out of scope; the
    * MECHANISM — featurize, dot, threshold — is what this certifies,
    * and a real weight table drops in as a broadcast join).
    *
    * `score_int = Σ count·w(bucket)` is all-BIGINT: exact, engine-
    * portable, partition-order-free (a double dot product would be
    * sum-order-sensitive). `label = 1` iff `score_int ≥ 0`.
    *
    * Scale shape: [[featureHash]]'s single (id, bucket) exchange plus
    * one per-doc partial-final HashAggregate — the weight is arithmetic
    * ON the bucket id, so no weight table ships anywhere. */
  def hashedLinearScore(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    featureHash(docs, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(sum(col("count") *
          ((col("bucket") + 1) * 7919L % 193L - 96L)).as("score_int"))
      .withColumn("label", (col("score_int") >= 0).cast("int"))

  /** [[hashedLinearScore]] with a TRAINED weight table — the production
    * form the arithmetic-weight stand-in documents: a fitted classifier's
    * coefficients arrive as a `(bucket BIGINT, weight BIGINT)` table
    * (k rows — model-sized, kilobytes even at k = 2²⁰) and join the
    * hashed features as an explicit BROADCAST: every executor dots its
    * feature partition against an in-memory copy of the model, so the
    * corpus-sized feature side never reshuffles for the join (pinned in
    * PlanSpec). Buckets absent from the table (L1-zeroed coefficients)
    * score 0 via the left join. Integer weights keep the forward pass
    * exact and order-free, exactly as in [[hashedLinearScore]]. */
  def hashedLinearScoreWeighted(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      weights: DataFrame): DataFrame =
    featureHash(docs, idCol, textCol, k)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("count") * coalesce(col("weight"), lit(0L))).as("score_int"))
      .withColumn("label", (col("score_int") >= 0).cast("int"))

  /** Marker-word profiles for the n-gram/stopword language-ID heuristic
    * (north star). Candidates scored by marker occurrences; ties break
    * alphabetically. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  /** Corpus vocabulary heavy hitters — the classic distributed word
    * count, the first diagnostic run on any new crawl (Zipf sanity,
    * boilerplate tokens, tokenizer-vocab candidates). Top `k` tokens by
    * total occurrences (ties → token ascending) with document
    * frequencies.
    *
    * Scale shape: explode → two-level aggregation. Level 1 groups by
    * (token, doc) so the document frequency is an exact count WITHOUT a
    * `count(distinct)` (whose expand-based plan doubles the exploded
    * exchange); both levels are partial map-side HashAggregates and both
    * exchanges carry only (token, counts). The final top-k is a
    * `TakeOrderedAndProject` — partition-local heaps, k·P rows to the
    * driver, never a global sort of the vocabulary. */
  def vocabTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val perDoc = Partitioning.spread(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy("token", idCol)
      .agg(count(lit(1)).as("__tf"))
    perDoc.groupBy("token")
      .agg(sum("__tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(desc("n_occurrences"), asc("token"))
      .limit(k)
  }

  /** Word n-grams from an already-materialized token ARRAY column, in
    * document order (empty for docs with fewer than `n` tokens).
    * Guarded against Spark's descending `sequence` when `stop < start`.
    *
    * Takes the token array, NOT the text: higher-order-function lambdas
    * are interpreted (no codegen), so an expression argument here is
    * re-evaluated per lambda call — passing `tokens(text)` directly
    * re-ran the regex split 3× PER N-GRAM (≈160 splits of the full text
    * per document; the round-6 q_trigram_topk 8s-idle regression).
    * Callers project the token array into a column first, so the split
    * runs once per row and the lambda does three O(1) `element_at`s. */
  def wordNgramsOfTokens(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))


  /** Corpus n-gram heavy hitters — the KenLM-style language-model count
    * table, top-k slice: same two-level (ngram, doc) → ngram shape as
    * [[vocabTopK]] (exact doc frequency without a count-distinct
    * expand; both exchanges carry counts, the final top-k is a
    * `TakeOrderedAndProject`). */
  def ngramTopK(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val perDoc = Partitioning.spread(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(wordNgramsOfTokens(col("__toks"), n)).as("ngram"))
      .groupBy("ngram", idCol)
      .agg(count(lit(1)).as("__tf"))
    perDoc.groupBy("ngram")
      .agg(sum("__tf").as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(desc("n_occurrences"), asc("ngram"))
      .limit(k)
  }

  /** Per-document n-gram language-model score — the KenLM-style quality
    * filter: train the count LM on the corpus itself, score each doc by
    * the average log-probability of its word n-grams,
    * `avg over g of ln(count(g) / T)` where `T` is the total corpus
    * n-gram occurrence count. Boilerplate-heavy docs (common n-grams)
    * score high; rare/garbled text scores low — the standard cheap
    * perplexity proxy for corpus filtering.
    *
    * Output: `(idCol, n_ngrams, logprob_micro, avg_logprob)`; docs with
    * fewer than `n` tokens have no n-grams and are absent.
    *
    * Scale shape: n-grams reduce to 60-bit md5-derived BIGINT keys
    * BEFORE any shuffle (the count agg and the count join both carry
    * 8-byte keys, never n-gram text); the count table aggregates with a
    * map-side partial; the per-doc roll-up is one hash agg. The gram
    * frame feeds both the count table and the join side, so it is
    * materialized once (`localCheckpoint` — the in-query analog of the
    * persisted LM-count pipeline stage). Hash collisions merge two
    * n-grams' counts — the standard sketch trade, deterministic and
    * mirrored by the oracle.
    *
    * Float parity: per-gram `ln(count)` is floored to integer MICROS and
    * summed exactly (a double sum would be partition-order-dependent);
    * `ln` is [[graft.expressions.VectorExpressions.PlatformLn]] (libm
    * parity). `logprob_micro = Σ⌊ln(c)·10⁶⌋ − n·⌊ln(T)·10⁶⌋` is exact;
    * the reported `avg_logprob = (logprob_micro / 10⁶) / n` divides
    * exact integers in a fixed order. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val lnMicro = (x: Column) =>
      floor(graft.expressions.VectorExpressions.platformLn(
        x.cast("double")) * lit(1e6)).cast("long")
    val grams = Partitioning.spread(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(wordNgramsOfTokens(col("__toks"), n)).as("ngram"))
      .select(col(idCol),
        Sketches.md5Long(col("ngram")).as("gh"))
      .localCheckpoint()
    val counts = grams.groupBy("gh").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("t"))
    val perDoc = grams.join(counts, "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(lnMicro(col("c"))).as("__sum_ln_c"))
    perDoc.crossJoin(broadcast(total))
      .select(col(idCol), col("n_ngrams"),
        (col("__sum_ln_c") - col("n_ngrams") * lnMicro(col("t")))
          .as("logprob_micro"))
      .withColumn("avg_logprob",
        col("logprob_micro").cast("double") / lit(1e6) / col("n_ngrams"))
  }

  /** Benchmark decontamination — the GPT-3-appendix/PaLM protocol: flag
    * training documents that share any word `n`-gram with an evaluation
    * set, so eval benchmarks aren't memorized via training leakage. The
    * standard n is 13 (long enough that a shared gram is evidence of
    * copying, not coincidence). Output: one row per CONTAMINATED
    * training doc — `(idCol, n_hit_grams)` = how many of its distinct
    * n-grams appear in the eval set; clean docs are absent (the report
    * is an audit/removal list, and at corpus scale emitting the clean
    * majority would be the expensive no-op).
    *
    * Scale shape: n-grams reduce to 60-bit md5-derived BIGINT keys
    * map-side (gram text never shuffles); the train side dedupes
    * (id, gh) through one partial-final HashAggregate pair of 16-byte
    * rows; the EVAL side is benchmark-sized (thousands of docs against
    * a 100 TB corpus), so its distinct gram set BROADCASTS and the
    * containment probe is a map-side BroadcastHashJoin — the corpus
    * never reshuffles for the check (PlanSpec-pinned). Hash collisions
    * can flag a clean doc (never miss a dirty one) — the conservative
    * direction for decontamination, and the oracle mirrors the same
    * hash. */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(wordNgramsOfTokens(col("__toks"), n)).as("ngram"))
      .select(col(idCol),
        Sketches.md5Long(col("ngram")).as("gh"))
    val evalGrams = grams(evalDocs).select("gh").distinct()
    grams(Partitioning.spread(docs)).distinct()
      .join(broadcast(evalGrams), "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Per-language tokenizer fertility and compression — the datasheet
    * metric used to choose a tokenizer for a multilingual corpus:
    * `fertility = subword tokens / whitespace words` (high fertility =
    * the tokenizer fragments that language; the reason multilingual
    * models budget vocab per language) and `chars per subword token`
    * (compression rate). The subword proxy is [[BpeTokenPattern]] (the
    * same one the quality metrics use). Ratios are reported as exact
    * integer MILLI values (`(a·1000) div b`) so they reproduce
    * bit-for-bit in any engine. One projection + one partial-final
    * aggregation: no shuffle beyond the language-keyed counts. */
  def tokenizerFertility(docs: DataFrame, langCol: String, textCol: String,
      nCharsCol: String): DataFrame = {
    val text = col(textCol)
    Partitioning.spread(docs)
      .select(col(langCol), col(nCharsCol),
        tokenCount(text).as("__ws"),
        size(regexp_extract_all(text, lit(BpeTokenPattern), lit(0)))
          .cast("long").as("__bpe"))
      .groupBy(langCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__ws").as("ws_tokens"),
        sum("__bpe").as("bpe_tokens"),
        sum(nCharsCol).as("sum_chars"))
      .withColumn("fertility_milli", expr("(bpe_tokens * 1000) div ws_tokens"))
      .withColumn("chars_per_bpe_milli", expr("(sum_chars * 1000) div bpe_tokens"))
      .orderBy(langCol)
  }

  /** BPE tokenizer training, step one: count every adjacent character
    * pair inside every word occurrence and rank the top-`k` merge
    * candidates — the argmax of this table is the first merge rule a
    * byte-pair-encoding tokenizer learns (reference has no tokenizer;
    * this is the training-data-pipeline extension surface).
    *
    * Output: `(pair, pair_count, n_words)` — `pair_count` = total
    * pair occurrences across all word OCCURRENCES (a pair appearing
    * twice inside one word counts twice, times the word's corpus
    * frequency — the textbook BPE count), `n_words` = distinct vocab
    * words containing the pair. Ties break on `pair`, so the top-k SET
    * is deterministic.
    *
    * Scale shape: the corpus collapses to its VOCABULARY first — one
    * partial-final word-count HashAggregate whose exchange carries
    * (word, count), never document text. The character-pair explosion
    * then runs over the vocab only (Heaps'-law sublinear in corpus
    * size), weighted by word frequency; the pair roll-up is a second
    * counts-only agg and the final top-k is a `TakeOrderedAndProject`.
    * At 100 TB the only corpus-scale exchange is the word count — the
    * same one `vocabTopK` already pays. */
  def bpeMergeCandidates(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val vocab = Partitioning.spread(docs)
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("__f"))
    val perWord = vocab
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("__f"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair", "word", "__f")
      .agg(count(lit(1)).as("__npos"))
    perWord.groupBy("pair")
      .agg(sum(col("__npos") * col("__f")).as("pair_count"),
        count(lit(1)).as("n_words"))
      .orderBy(desc("pair_count"), asc("pair"))
      .limit(k)
  }

  /** Symbol separator for the spaced BPE encoding — a control char
    * whitespace-tokenized words cannot contain (tokens come from
    * space-splitting, and fixture/crawl text never carries 0x01; a
    * defensive pipeline strips it at ingest). */
  val BpeSep = "\u0001"

  /** `word` → its spaced single-character symbol form
    * `SEP c1 SEP c2 … SEP`: every symbol is bounded by separators, so a
    * merge rule `(a,b)` is exactly the string rewrite
    * `SEP a SEP b SEP → SEP ab SEP`, and `replace`'s leftmost
    * non-overlapping scan IS the textbook BPE left-to-right merge
    * order (both engines' `replace` share that contract, so the
    * encoding is cross-engine exact). */
  def bpeSpaced(word: Column): Column =
    concat(lit(BpeSep), regexp_replace(word, "(.)", "$1" + BpeSep))

  /** Symbols in a spaced form: separator count − 1 (the empty word has
    * one separator → 0 symbols). */
  def bpeSubwordCount(spaced: Column): Column =
    (length(spaced) - length(regexp_replace(spaced, BpeSep, "")) - 1)
      .cast("long")

  /** Human-readable segmentation of a spaced form: subwords joined by
    * single spaces. */
  def bpeSegment(spaced: Column): Column =
    array_join(filter(split(spaced, BpeSep), s => s =!= lit("")), " ")

  /** BPE tokenizer training, the full greedy loop (the iterated form of
    * [[bpeMergeCandidates]], which certifies round one): learn `n`
    * merge rules, each round taking the argmax adjacent symbol pair by
    * per-position frequency-weighted count (ties → lexicographic
    * `(a, b)` — total order, so the learned table is deterministic and
    * an oracle can replay the rounds exactly).
    *
    * Scale shape: the corpus collapses to its (word, f) VOCABULARY
    * once (the only corpus-scale exchange — the same one `vocabTopK`
    * pays), localCheckpointed so the per-round argmax re-reads a
    * materialized vocab instead of re-scanning the corpus; each round
    * is one vocab-frame pair aggregation plus a 1-row collect (the
    * pqCodebooks driver-stitch contract — the merge TABLE is
    * model-sized by definition), and the rewrite is one codegen
    * `replace` projection, re-checkpointed so lineage stays O(1) per
    * round. Rounds are inherently sequential (merge i+1's counts
    * depend on merge i) — that is BPE, not a plan defect. */
  def bpeLearnMerges(docs: DataFrame, textCol: String,
      n: Int): Seq[(String, String)] = {
    var cur = Partitioning.spread(docs)
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(bpeSpaced(col("word")).as("sp"), col("f"))
      .localCheckpoint()
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < n && !exhausted) {
      val parts = split(col("sp"), BpeSep)
      val top = cur
        .filter(size(parts) >= 4) // ≥ 2 symbols (+2 boundary empties)
        .select(col("f"),
          explode(transform(sequence(lit(2), size(parts) - 2),
            j => struct(element_at(parts, j).as("a"),
              element_at(parts, j + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("f").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        out += ((a, b))
        cur = cur
          .select(bpeMergeRewrite(col("sp"), a, b).as("sp"), col("f"))
          .localCheckpoint()
        i += 1
      }
    }
    out.result()
  }

  /** One merge rule applied to a spaced form — a plain-string codegen
    * `replace` (leftmost non-overlapping = BPE merge order). */
  private def bpeMergeRewrite(spaced: Column, a: String, b: String): Column =
    call_function("replace", spaced,
      lit(BpeSep + a + BpeSep + b + BpeSep), lit(BpeSep + a + b + BpeSep))

  /** Apply a learned merge table to a word: the chained-replace codegen
    * projection — `merges.size` string rewrites per row, zero shuffle,
    * no state. This is the serving face of [[bpeLearnMerges]]: the
    * merge table ships as literals in the plan (model-sized), exactly
    * how a production tokenizer ships its merges file. */
  def bpeApplySpaced(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(bpeSpaced(word)) { case (sp, (a, b)) =>
      bpeMergeRewrite(sp, a, b)
    }

  /** Vocabulary segmentation under a learned merge table: the top-`k`
    * corpus words by frequency with their subword splits —
    * `(word, f, n_subwords, segmented)`. Vocab-first (one (word, count)
    * exchange; the chained replaces run once per DISTINCT word, never
    * per occurrence), final top-k is a TakeOrderedAndProject. */
  def bpeVocabSegmentation(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)], k: Int): DataFrame =
    Partitioning.spread(docs)
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))
      .select(col("word"), col("f"),
        bpeApplySpaced(col("word"), merges).as("__sp"))
      .select(col("word"), col("f"),
        bpeSubwordCount(col("__sp")).as("n_subwords"),
        bpeSegment(col("__sp")).as("segmented"))
      .orderBy(desc("f"), asc("word")).limit(k)

  /** [[tokenizerFertility]] over REAL learned subwords instead of the
    * regex proxy: per-language fertility (subwords per whitespace word,
    * exact integer milli) and chars-per-subword compression under a
    * [[bpeLearnMerges]] merge table. With a bounded merge budget the
    * metric discriminates languages even on caseless text — coverage
    * of the learned merges differs with each language's character
    * distribution (the regex proxy degenerated to 1000 milli on the
    * bland fixture — SURVEY open item (b)).
    *
    * Scale shape: vocab-first again — the merge chain runs once per
    * distinct (lang, word), the corpus-scale exchanges are the
    * (lang, word) count and the cheap per-language doc rollup, and the
    * final join is language-cardinality-sized. */
  def tokenizerFertilityBpe(docs: DataFrame, langCol: String,
      textCol: String, nCharsCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spread = Partitioning.spread(docs)
    val perWord = spread
      .select(col(langCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(langCol, "word").agg(count(lit(1)).as("c"))
      .select(col(langCol), col("c"),
        bpeSubwordCount(bpeApplySpaced(col("word"), merges)).as("__ns"))
      .groupBy(langCol)
      .agg(sum("c").as("ws_tokens"),
        sum(col("c") * col("__ns")).as("bpe_tokens"))
    val perDoc = spread
      .groupBy(langCol)
      .agg(count(lit(1)).as("n_docs"), sum(nCharsCol).as("sum_chars"))
    perDoc.join(perWord, Seq(langCol))
      .select(col(langCol), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"), col("sum_chars"),
        expr("(bpe_tokens * 1000) div ws_tokens").as("fertility_milli"),
        expr("(sum_chars * 1000) div bpe_tokens").as("chars_per_bpe_milli"))
      .orderBy(langCol)
  }

  /** PMI collocation mining — the word2vec-style phrase-detection pass
    * ("new york" → one token) every embedding/tokenizer pipeline runs
    * before training: score each adjacent token bigram by pointwise
    * mutual information `ln(c(ab)·N / (c(a)·c(b)))` and keep the
    * top-`k` above a minimum pair count (PMI without a count floor
    * surfaces hapax noise).
    *
    * Output: `(bigram, n_pair, n_left, n_right, pmi_micro, pmi)`
    * ordered by PMI desc then bigram. Float parity: each `ln` is
    * floored to integer MICROS separately (the [[lmScore]] trick), so
    * `pmi_micro = ⌊ln c_ab⌋ + ⌊ln N⌋ − ⌊ln c_a⌋ − ⌊ln c_b⌋` is exact
    * integer arithmetic and `pmi` is one final division.
    *
    * Scale shape: two counts-only aggregations over the corpus (unigram
    * and bigram tables — both partial map-side, both exchanges carry
    * (key, count)); the PMI join touches only bigrams that SURVIVE the
    * `minCount` floor (a tiny fraction of the bigram vocab) against the
    * unigram vocab, keyed equi-joins both. The 1-row total frame
    * broadcasts. No corpus text ever reshuffles. */
  def pmiBigrams(docs: DataFrame, textCol: String,
      minCount: Long, k: Int): DataFrame = {
    val lnMicro = (x: Column) =>
      floor(graft.expressions.VectorExpressions.platformLn(
        x.cast("double")) * lit(1e6)).cast("long")
    val spreadDocs = Partitioning.spread(docs)
    val uni = spreadDocs
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").as("t"))
    val bi = spreadDocs
      .select(tokens(col(textCol)).as("__toks"))
      .select(explode(wordNgramsOfTokens(col("__toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    bi
      .withColumn("__w1", split(col("bigram"), " ")(0))
      .withColumn("__w2", split(col("bigram"), " ")(1))
      .join(uni.select(col("w").as("__w1"), col("c").as("n_left")), "__w1")
      .join(uni.select(col("w").as("__w2"), col("c").as("n_right")), "__w2")
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("n_pair"), col("n_left"), col("n_right"),
        (lnMicro(col("n_pair")) + lnMicro(col("t"))
          - lnMicro(col("n_left")) - lnMicro(col("n_right"))).as("pmi_micro"))
      .withColumn("pmi", col("pmi_micro").cast("double") / lit(1e6))
      .orderBy(desc("pmi_micro"), asc("bigram"))
      .limit(k)
  }

  /** Predicted language per document: the candidate with the most marker
    * hits (tie → alphabetically first). Output: (idCol, predicted). */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one materialized token array feeds all five candidate filters —
    // each filter is an interpreted HOF, so inlining `tokens(text)`
    // would re-run the regex split once per language per row
    val toks = col("__toks")
    val candidates = LangMarkers.map { case (lang, markers) =>
      struct(lit(lang).as("cand"),
        size(filter(toks, t => t.isInCollection(markers))).cast("long").as("hits"))
    }
    val scored = Partitioning.spread(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(array(candidates: _*)).as("c"))
      .select(col(idCol), col("c.cand").as("cand"), col("c.hits").as("hits"))
    val w = Window.partitionBy(idCol).orderBy(desc("hits"), asc("cand"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("cand").as("predicted"))
  }
}
