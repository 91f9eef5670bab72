package graft

import org.apache.spark.sql.functions._

import graft.functions.Metric
import graft.operators.Rag

/** RAG assembly semantics vs the reference `answer_query` (rag.py:67-97):
  * context joins top-k texts with "\n---\n" in score order, answer wraps
  * it in the placeholder template (the test_v3_features.py:49-65 analog). */
class RagSpec extends SparkSpec {
  import spark.implicits._

  test("context is score-ordered, separator-joined; answer adds template") {
    // hand corpus: vectors aligned so scores rank c > a > b for query [1,0]
    val docs = Seq(
      (1L, "alpha", Seq(0.9, 0.1)),
      (2L, "beta", Seq(0.1, 0.9)),
      (3L, "gamma", Seq(1.0, 0.0))).toDF("id", "text", "vec")
    val q = Seq(Tuple1(Seq(1.0, 0.0))).toDF("qvec")
    val row = Rag.answerQuery(docs, "id", "text", "vec", q, "qvec",
      Metric.Cosine, topK = 2).collect()(0)
    val context = row.getAs[String]("context")
    val answer = row.getAs[String]("answer")
    assert(context == "gamma\n---\nalpha")
    assert(answer == Rag.AnswerPrefix + context)
  }

  test("ties in score order by id (deterministic assembly)") {
    val docs = Seq(
      (5L, "five", Seq(1.0, 0.0)),
      (2L, "two", Seq(1.0, 0.0)),
      (9L, "nine", Seq(1.0, 0.0))).toDF("id", "text", "vec")
    val q = Seq(Tuple1(Seq(1.0, 0.0))).toDF("qvec")
    val context = Rag.answerQuery(docs, "id", "text", "vec", q, "qvec",
      Metric.Cosine, topK = 3).collect()(0).getAs[String]("context")
    assert(context == "two\n---\nfive\n---\nnine")
  }

  test("fewer docs than topK still assembles (k-clamp)") {
    val docs = Seq((1L, "only", Seq(1.0, 0.0))).toDF("id", "text", "vec")
    val q = Seq(Tuple1(Seq(1.0, 0.0))).toDF("qvec")
    val context = Rag.answerQuery(docs, "id", "text", "vec", q, "qvec",
      Metric.Cosine, topK = 3).collect()(0).getAs[String]("context")
    assert(context == "only")
  }

  test("answerFromIndex over a cached index runs one job, with no broadcast") {
    val index = Rag.buildIndex(Tables.documents(spark, Sf0001), "doc_id", "text",
      chunkSize = 100).cached()
    try {
      index.df.count() // fill the cache outside the counted jobs
      val (answer, built) = countJobs(
        Rag.answerFromIndex(spark, index, "text", "spark window join", 3))
      assert(built == 0, s"building ran $built jobs")
      val (rows, ran) = countJobs(answer.collect())
      assert(ran == 1, s"collecting ran $ran jobs")
      assert(rows.length == 1)
      assert(broadcastNodes(answer).isEmpty, answer.queryExecution.executedPlan.toString)
    } finally index.uncached()
  }

  test("buildIndex: end-to-end chunk index + text retrieval (rag.py:27-52)") {
    val docs = Tables.documents(spark, Sf0001).limit(50)
    val index = Rag.buildIndex(docs, "doc_id", "text", chunkSize = 100)
    // every chunk reassembles into its source doc
    val rebuilt = index.df
      .groupBy("doc_index")
      .agg(concat_ws("", sort_array(collect_list(
        struct(col("chunk_index"), col("text")))).getField("text")).as("joined"))
    val originals = docs.select(col("doc_id"), col("text").as("orig_text"))
    val bad = rebuilt
      .join(originals, rebuilt("doc_index") === originals("doc_id"))
      .filter(col("joined") =!= col("orig_text")).count()
    assert(bad == 0, "chunk reassembly mismatch")
    // retrieval over the chunk table returns k chunks with doc metadata
    val hits = index.searchText(spark, "spark window join", 3)
    assert(hits.count() == 3)
    assert(hits.columns.contains("doc_index") && hits.columns.contains("chunk_index"))
  }
}
