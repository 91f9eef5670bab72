package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, Tables, VectorTable, VectorTableConfig}
import graft.functions.Metric
import graft.operators.Rag

/** End-to-end library walkthrough — the Spark analog of the reference's
  * `examples/basic_text_search.py`: build a table, insert text, search
  * by text and by vector, assemble a RAG answer, save and reload.
  *
  * Run: `sbt "runMain graft.examples.BasicTextSearch [sfDir]"`.
  */
object BasicTextSearch {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 1. a vector collection over the embeddings fixture
    val table = VectorTable(
      Tables.embeddings(spark, sfDir),
      VectorTableConfig(dim = Tables.EmbeddingDim, metric = "cosine"))

    // 2. text search (deterministic arithmetic embedding stands in for a model)
    println("== top-5 for a text query ==")
    table.searchText(spark, "spark window join", 5).show(truncate = false)

    // 3. vector search against a stored row
    println("== top-5 neighbors of vec_id 0 ==")
    val q = table.df.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    table.search(q, "qvec", 5).show(truncate = false)

    // 4. RAG: chunk-index the documents, retrieve, assemble an answer
    println("== RAG answer ==")
    val index = Rag.buildIndex(Tables.documents(spark, sfDir), "doc_id", "text")
    val qf = spark.range(1).select(
      graft.functions.VectorFunctions
        .arithmeticEmbedding(lit("fast shuffle merge"), Tables.EmbeddingDim).as("qv"))
    Rag.answerQuery(index.df, "vec_id", "text", "embedding", qf, "qv",
      Metric.Cosine, topK = 3).show(truncate = false)

    // 5. the kernels from SQL
    GraftFunctions.register(spark)
    table.df.createOrReplaceTempView("emb")
    println("== vec_cosine from SQL ==")
    spark.sql(
      """SELECT e.vec_id, vec_cosine(e.embedding, q.embedding) AS score
        |FROM emb e CROSS JOIN (SELECT embedding FROM emb WHERE vec_id = 0) q
        |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin).show()

    // 6. persistence roundtrip
    val path = Tables.scratchPath("example_save")
    table.save(path)
    val reloaded = VectorTable.load(spark, path)
    println(s"== reloaded ${reloaded.df.count()} rows, config ${reloaded.config} ==")

    spark.stop()
  }
}
