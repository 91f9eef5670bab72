package graft

import org.apache.spark.sql.functions._

import graft.functions.Metric
import graft.operators.{Graph, Sketches, Temporal, TextOps, VectorSearch}
import graft.streaming.Streaming

/** Empty-input robustness sweep: every operator family must return an
  * EMPTY result — not throw, not hang, not emit spurious rows — when its
  * input frame has zero rows. At 100 TB this is not a corner case: a
  * partition-pruned read, a filter that matches nothing, or an empty
  * delta batch in an incremental pipeline all hand operators an empty
  * frame with a full schema, and a crash there kills a whole job that
  * did real work upstream. (Operators whose CONTRACT needs rows —
  * `ivfCentroids`' collect of c rows, `pqCodebooks` — are index-BUILD
  * steps a deployment runs once on a known-nonempty corpus; their
  * `require` failing fast on empty is the correct behavior and is not
  * relaxed here.) */
class EmptyInputSpec extends SparkSpec {

  private lazy val noDocs =
    Tables.documents(spark, Sf0001).filter(lit(false))
  private lazy val noEvents =
    Tables.events(spark, Sf0001).filter(lit(false))
  private lazy val noEmb =
    Tables.embeddings(spark, Sf0001).filter(lit(false))
  private lazy val someEmb =
    Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").limit(20)

  test("text ops: stats, chunks, scrub, segment dedup on zero documents") {
    assert(TextOps.textStats(noDocs, "lang", "n_chars", "text").count() == 0)
    assert(TextOps.chunkDocuments(noDocs, "doc_id", "text", 100).count() == 0)
    assert(TextOps.scrub(noDocs, "text",
      Seq("[0-9]{3}-[0-9]{4}" -> "<phone>")).count() == 0)
    assert(TextOps.segmentDedup(noDocs, "doc_id", "text", 80).count() == 0)
  }

  test("sampling and features: reservoir, append, scrub, featurizer on zero documents") {
    import graft.operators.Splits
    assert(Splits.reservoirSample(noDocs, "doc_id", "lang", "s", 5).count() == 0)
    // empty DELTA is the everyday incremental shape: sample passes through
    val sample = Splits.reservoirSample(
      Tables.documents(spark, Sf0001).limit(30), "doc_id", "lang", "s", 5)
    assert(Splits.reservoirAppend(sample, noDocs, "doc_id", "lang", "s", 5).count()
      == sample.count())
    // empty BASE sample absorbs a delta as a fresh sample
    assert(Splits.reservoirAppend(
      Splits.reservoirSample(noDocs, "doc_id", "lang", "s", 5),
      Tables.documents(spark, Sf0001).limit(30), "doc_id", "lang", "s", 5).count()
      == sample.count())
    assert(TextOps.scrubFrequentSegments(noDocs, "doc_id", "text", 30, 3).count() == 0)
    assert(TextOps.featureHash(noDocs, "doc_id", "text", 64).count() == 0)
    assert(TextOps.hashedLinearScore(noDocs, "doc_id", "text", 64).count() == 0)
    val w = spark.range(4).select(col("id").as("bucket"), col("id").as("weight"))
    assert(TextOps.hashedLinearScoreWeighted(noDocs, "doc_id", "text", 64, w)
      .count() == 0)
    assert(Temporal.groupTopK(noDocs, "lang", "n_chars", "doc_id", 5).count() == 0)
    // empty corpus AND empty eval set are both everyday shapes (a fully
    // pruned read / a benchmark with no grams of length ≥ n)
    val someDocs = Tables.documents(spark, Sf0001).limit(20)
    assert(TextOps.contaminationReport(noDocs, someDocs, "doc_id", "text", 5)
      .count() == 0)
    assert(TextOps.contaminationReport(someDocs, noDocs, "doc_id", "text", 5)
      .count() == 0)
  }

  test("sketches: minhash signatures and band table on zero documents") {
    val sig = Sketches.minhashSignature(noDocs, "doc_id", "text", k = 5, m = 16)
    assert(sig.count() == 0)
    assert(Sketches.minhashBands(sig, "doc_id", bands = 4, rowsPerBand = 4).count() == 0)
    assert(Sketches.minhashCandidatesCapped(noDocs, "doc_id", "text",
      k = 5, m = 16, bands = 4, maxBucket = 5).count() == 0)
  }

  test("curation: funnel, buckets, dsir, bpe, pmi, shared spans on zero documents") {
    import graft.operators.Curation
    // the funnel's single 1-row aggregate still yields one row PER STAGE
    // (all counters zero) — the report shape is input-independent
    val funnel = Curation.funnelReport(noDocs,
      Seq("a" -> (col("n_chars") >= 1), "b" -> (col("lang") === "en")))
      .collect()
    // !isNullAt, not getAs[Long] (which unboxes null to 0L and would
    // mask NULL counters) — the ledger must be genuinely all-zero
    val fi = funnel.head.fieldIndex _
    assert(funnel.length == 2 && funnel.forall(r =>
      Seq("n_in", "n_kept", "n_dropped").forall(c => !r.isNullAt(fi(c))) &&
        r.getAs[Long]("n_in") == 0 && r.getAs[Long]("n_kept") == 0 &&
        r.getAs[Long]("n_dropped") == 0))
    assert(Curation.perplexityBuckets(noDocs, "doc_id", "text", "lang", 3).count() == 0)
    // empty TARGET still scores every raw doc (smoothing keeps ln
    // finite; the coalesced totals prevent null-poisoned weights)
    val someDocs = Tables.documents(spark, Sf0001).limit(5)
    val emptyTarget = Curation.dsirWeights(someDocs, noDocs, "doc_id", "text", 64)
      .collect()
    assert(emptyTarget.length == 5 && emptyTarget.forall(!_.isNullAt(2)))
    assert(Curation.dsirWeights(noDocs, someDocs, "doc_id", "text", 64).count() == 0)
    assert(TextOps.bpeMergeCandidates(noDocs, "text", 10).count() == 0)
    assert(TextOps.pmiBigrams(noDocs, "text", 1L, 10).count() == 0)
    assert(Sketches.sharedRuns(noDocs, "doc_id", "text", 5).count() == 0)
    // r9 additions: BPE learn/apply and the URL-curation family
    assert(TextOps.bpeLearnMerges(noDocs, "text", 4).isEmpty)
    assert(TextOps.bpeVocabSegmentation(noDocs, "text", Nil, 10).count() == 0)
    assert(TextOps.tokenizerFertilityBpe(noDocs, "lang", "text", "n_chars",
      Seq(("a", "b"))).count() == 0)
    val noUrls = noDocs.withColumn("url", col("source"))
    assert(graft.operators.Web.hostStats(noUrls, "url", "text", "n_chars",
      "lang").count() == 0)
    assert(graft.operators.Web.urlFilter(noUrls, "url",
      Seq("spam.org")).count() == 0)
  }

  test("graph: connected components of an empty edge list") {
    val labels = Graph.connectedComponents(
      noDocs.select(col("doc_id").as("a"), col("doc_id").as("b")), "a", "b")
    assert(labels.count() == 0)
  }

  test("dedup: keep-first on zero rows") {
    assert(Temporal.keepFirst(noEvents,
      Seq("user_id"), Seq("ts", "event_id"), Seq("event_type")).count() == 0)
  }

  test("knn: empty corpus yields no neighbors; empty queries yield no results") {
    assert(VectorSearch.knnJoin(someEmb, noEmb.select("vec_id", "embedding"),
      "embedding", "vec_id", Metric.Cosine, k = 5, broadcastData = true).count() == 0)
    assert(VectorSearch.bucketedKnnJoin(noEmb.select("vec_id", "embedding"), someEmb,
      "embedding", "vec_id", Metric.Cosine, k = 5, dim = Tables.EmbeddingDim).count() == 0)
    assert(VectorSearch.multiProbeKnnJoin(noEmb.select("vec_id", "embedding"), someEmb,
      "embedding", "vec_id", Metric.Cosine, k = 5,
      dim = Tables.EmbeddingDim).count() == 0)
    assert(VectorSearch.multibandKnnJoin(someEmb, noEmb.select("vec_id", "embedding"),
      "embedding", "vec_id", Metric.Cosine, k = 5,
      dim = Tables.EmbeddingDim, bits = 4, bands = 2).count() == 0)
    // the corpus-side bucket cap sizes zero buckets (a null mean)
    assert(VectorSearch.multibandKnnJoin(someEmb, noEmb.select("vec_id", "embedding"),
      "embedding", "vec_id", Metric.Cosine, k = 5,
      dim = Tables.EmbeddingDim, bits = 4, bands = 2,
      maxBucketFactor = Some(2.0)).count() == 0)
    assert(VectorSearch.multiProbeKnnJoin(someEmb, noEmb.select("vec_id", "embedding"),
      "embedding", "vec_id", Metric.Cosine, k = 5,
      dim = Tables.EmbeddingDim, maxBucketFactor = Some(2.0)).count() == 0)
  }

  test("knn: broadcast queries over an empty side give no rows and the pair form's schema") {
    val none = noEmb.select("vec_id", "embedding")
    for ((queries, corpus) <- Seq(none -> someEmb, someEmb -> none); metric <- Metric.all) {
      def join(broadcastQueries: Boolean) = VectorSearch.knnJoin(queries, corpus,
        "embedding", "vec_id", metric, k = 5, broadcastQueries = broadcastQueries)
      val block = join(broadcastQueries = true)
      assert(block.collect().isEmpty, metric.name)
      assert(block.schema == join(broadcastQueries = false).schema, metric.name)
    }
  }

  test("index tables: LSH bucket table and appends on zero vectors") {
    val idx = VectorSearch.lshBucketTable(noEmb.select("vec_id", "embedding"),
      "embedding", "vec_id", Metric.Cosine, Tables.EmbeddingDim, bits = 8, bands = 4)
    assert(idx.count() == 0)
    // appending an empty delta to a real index is the everyday shape:
    // an ingest tick with no new vectors must be a no-op, not a failure
    val real = VectorSearch.lshBucketTable(someEmb, "embedding", "vec_id",
      Metric.Cosine, Tables.EmbeddingDim, bits = 8, bands = 4)
    val appended = VectorSearch.lshIndexAppend(real,
      noEmb.select("vec_id", "embedding"), "embedding", "vec_id",
      Metric.Cosine, Tables.EmbeddingDim, bits = 8, bands = 4)
    assert(appended.count() == real.count())
  }

  test("streaming transforms: windowed counts, burst flags, sessionize on zero events") {
    assert(Streaming.windowedCounts(noEvents).count() == 0)
    assert(Streaming.burstFlags(Streaming.windowedCounts(noEvents)).count() == 0)
    assert(Streaming.sessionize(noEvents).count() == 0)
    assert(Streaming.userRunningStats(noEvents).count() == 0)
  }
}
