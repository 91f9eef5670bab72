package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Metric, VectorFunctions => VF}
import graft.operators.VectorSearch

/** Collection-level config, persisted next to the data (the Spark analog
  * of the reference's pickled `{dim, metric, use_ann, embeddings_class}`
  * header, api.py:179-186; `use_ann` has no batch meaning and is dropped
  * per BASELINE.json). */
final case class VectorTableConfig(
    dim: Int,
    metric: String,
    idCol: String = "vec_id",
    vecCol: String = "embedding")

/** The engine facade — Spark analog of the reference's `VectorDB`
  * (api.py:21-205): a `DataFrame` of `(id, embedding, …metadata columns)`
  * plus collection config. All operations are lazy plans; nothing
  * collects to the driver.
  *
  * Persistence (O20/O21, api.py:174-205) is Parquet + a JSON config
  * sidecar written through the Hadoop `FileSystem` API, so the same code
  * path works on local disk, HDFS, or object storage on a real cluster.
  */
final class VectorTable(val df: DataFrame, val config: VectorTableConfig) {

  def metric: Metric = Metric.fromName(config.metric)

  /** O1 insert (vector): batch append with a per-row dimension guard —
    * the reference's `vector.shape[-1] != dim → ValueError`
    * (storage.py:15-16), enforced inside the plan via a conditional
    * `raise_error` so no extra validation pass over the data is needed. */
  def insert(rows: DataFrame): VectorTable =
    new VectorTable(df.unionByName(withDimCheck(rows)), config)

  /** O2 insert (text): embed a text column deterministically
    * (SURVEY §2.4.3 replacement for DummyEmbeddings) and append. The
    * text rides along as its own column — the engine's form of the
    * reference's `metadata["text"] = text` rule (api.py:160-161). */
  def insertText(rows: DataFrame, textCol: String): VectorTable = {
    val embedded = rows.withColumn(
      config.vecCol, VF.arithmeticEmbedding(col(textCol), config.dim))
    insert(embedded)
  }

  private def withDimCheck(rows: DataFrame): DataFrame =
    rows.withColumn(config.vecCol,
      when(size(col(config.vecCol)) === config.dim, col(config.vecCol))
        .otherwise(raise_error(concat(
          lit(s"Vector dimension mismatch: expected ${config.dim}, got "),
          size(col(config.vecCol)).cast("string")))))

  /** O22 items projection (`GET /items`, server.py:108-122): every column
    * except the vector — the scan never reads the embedding bytes
    * (column pruning reaches the Parquet footer). */
  def items: DataFrame = df.drop(config.vecCol)

  /** Free-form metadata (the reference's `Dict[str, Any]` per row,
    * storage.py:19; SURVEY §1.3): promote the given columns into a
    * `MAP<STRING,STRING>` column, values cast to string. The typed
    * columns stay alongside the map — the map is the free-form API
    * surface, the promoted columns the columnar fast path. */
  def withMetaMap(metaCol: String, fromCols: Seq[String]): VectorTable =
    new VectorTable(df.withColumn(metaCol,
      map(fromCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*)), config)

  /** Map-key predicate: `meta[key] = value`. Uses the `GetMapValue` form
    * (`getItem`), NOT `element_at`: Catalyst's `SimplifyExtractValueOps`
    * only folds `GetMapValue(map(...), key)` back to the promoted column
    * (`ElementAt` has its own ANSI missing-key semantics and is excluded
    * from the rule), and only the folded form reaches the Parquet scan as
    * a pushed filter — free-form API at columnar cost. A map READ from
    * storage filters per-row instead; that asymmetry is exactly why hot
    * keys should be promoted to real columns at write time. */
  def filterMeta(metaCol: String, key: String, value: String): VectorTable =
    new VectorTable(df.filter(col(metaCol).getItem(key) === value), config)

  /** Serving pattern: pin the table in executor memory for REPEATED
    * searches — the batch analog of the reference holding its numpy
    * matrix in process RAM (api.py keeps vectors resident between
    * requests). The cache is Spark's columnar `InMemoryRelation`
    * (codegen-scannable; spills to disk rather than OOM), so every
    * subsequent [[search]]/[[searchText]] skips the parquet scan. With a
    * constant query (see [[search]]) a search is then one job: one pass
    * over the cached rows that metric-prepares each vector (the cache
    * holds the raw vectors) and scores it. At cluster scale, cache the
    * served PROJECTION (id + vector), not every metadata column — the
    * projected plan is what gets pinned. */
  def cached(): VectorTable = {
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    this
  }

  /** Release the serving cache. */
  def uncached(): VectorTable = {
    df.unpersist()
    this
  }

  /** O9 search: top-k rows most similar to the 1-row query frame. A
    * constant 1-row query (literals over `spark.range(1)`, a one-row
    * `toDF`) is evaluated on the driver and scored as a literal; any other
    * query frame is broadcast ([[VectorSearch.scoreAgainst]]). */
  def search(query: DataFrame, queryVecCol: String, k: Int): DataFrame =
    VectorSearch.topK(df, config.vecCol, config.idCol, query, queryVecCol, metric, k)

  /** O10 text query (api.py:164-168): embed the query text, then search.
    * The embedded text is a constant query, scored as a literal. */
  def searchText(spark: SparkSession, text: String, k: Int): DataFrame = {
    val q = spark.range(1)
      .select(VF.arithmeticEmbedding(lit(text), config.dim).as("__qvec"))
    search(q, "__qvec", k)
  }

  /** O20 persist: Parquet data + JSON config sidecar (api.py:174-189).
    *
    * `partitionBy` hive-partitions the layout (e.g. by `label` or a date
    * column): a downstream `filter(col === v)` then prunes whole
    * directories at planning time (`PartitionFilters` in the scan) —
    * at 100 TB the difference between scanning one partition and all of
    * them. */
  def save(path: String, partitionBy: Seq[String] = Nil): Unit = {
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(s"$path/data")
    writeSidecar(path)
  }

  /** Persist as a BUCKETED table (`bucketBy` on the id column): two
    * tables bucketed the same way equi-join WITHOUT a shuffle — the
    * co-located join that makes repeated 100 TB joins affordable.
    * Bucketing requires the table catalog (`saveAsTable`), not a bare
    * path. */
  def saveBucketed(tableName: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, config.idCol)
      .sortBy(config.idCol)
      .saveAsTable(tableName)

  private def writeSidecar(path: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path, VectorTable.ConfigFile), true)
    try out.write(VectorTable.configJson(config).getBytes("UTF-8"))
    finally out.close()
  }
}

object VectorTable {
  val ConfigFile = "_graft_config.json"

  def apply(df: DataFrame, config: VectorTableConfig): VectorTable =
    new VectorTable(df, config)

  /** O21 load: Parquet + sidecar, with the reference's defaults for
    * absent fields (`metric="cosine"`, api.py:199-201). */
  def load(spark: SparkSession, path: String): VectorTable = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cfgPath = new Path(path, ConfigFile)
    val config =
      if (fs.exists(cfgPath)) {
        val in = fs.open(cfgPath)
        val raw =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        parseConfig(raw)
      } else VectorTableConfig(dim = 0, metric = "cosine")
    new VectorTable(spark.read.parquet(s"$path/data"), config)
  }

  private[graft] def configJson(c: VectorTableConfig): String =
    s"""{"dim": ${c.dim}, "metric": "${c.metric}", "idCol": "${c.idCol}", "vecCol": "${c.vecCol}"}"""

  /** Minimal fixed-shape JSON parse (sidecar is engine-written, flat, no
    * escapes) — avoids dragging a JSON library into the engine. */
  private[graft] def parseConfig(raw: String): VectorTableConfig = {
    def str(key: String, default: String): String =
      s""""$key"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(raw).map(_.group(1)).getOrElse(default)
    def int(key: String, default: Int): Int =
      s""""$key"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(raw).map(_.group(1).toInt).getOrElse(default)
    VectorTableConfig(
      dim = int("dim", 0),
      metric = str("metric", "cosine"),
      idCol = str("idCol", "vec_id"),
      vecCol = str("vecCol", "embedding"))
  }
}
