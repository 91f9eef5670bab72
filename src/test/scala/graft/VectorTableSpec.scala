package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** VectorTable facade: save/load roundtrip (reference
  * test_v2_features.py:11-48), per-row dim enforcement
  * (storage.py:15-16), items projection (server.py:108-122), and the
  * text insert/search path. */
class VectorTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = scratchDir("vt_test_")

  private lazy val base = VectorTable(
    Tables.embeddings(spark, Sf0001),
    VectorTableConfig(dim = Tables.EmbeddingDim, metric = "cosine"))

  test("save/load roundtrip preserves rows and config") {
    val path = tmpDir()
    base.save(path)
    val loaded = VectorTable.load(spark, path)
    assert(loaded.config == base.config)
    assert(loaded.df.count() == base.df.count())
    val idSum = loaded.df.agg(sum("vec_id")).collect()(0).getLong(0)
    val origSum = base.df.agg(sum("vec_id")).collect()(0).getLong(0)
    assert(idSum == origSum)
  }

  test("load without sidecar falls back to defaults (metric=cosine, api.py:199-201)") {
    val path = tmpDir()
    base.save(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, VectorTable.ConfigFile), false)
    val loaded = VectorTable.load(spark, path)
    assert(loaded.config.metric == "cosine")
  }

  test("insert enforces vector dimension per row (storage.py:15-16)") {
    val bad = Seq((9999L, Seq(1.0, 2.0), 0)).toDF("vec_id", "embedding", "label")
    val ex = intercept[Exception] {
      base.insert(bad).df.filter(col("vec_id") === 9999L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(_.contains("dimension mismatch")),
      s"unexpected error: ${ex.getMessage}")
  }

  test("insert of correct-dim rows appends") {
    val row = Tables.embeddings(spark, Sf0001).limit(1)
      .select(lit(100000L).as("vec_id"), col("embedding"), lit(0).as("label"))
    assert(base.insert(row).df.count() == base.df.count() + 1)
  }

  test("items drops the vector column only (server.py:108-122)") {
    assert(base.items.columns.toSeq == Seq("vec_id", "label"))
  }

  test("insertText embeds the text column and appends (api.py:156-162)") {
    val textTable = VectorTable(
      Tables.documents(spark, Sf0001).limit(5)
        .select(col("doc_id").as("vec_id"), col("text"))
        .withColumn("embedding",
          graft.functions.VectorFunctions.arithmeticEmbedding(col("text"), Tables.EmbeddingDim)),
      VectorTableConfig(dim = Tables.EmbeddingDim, metric = "cosine"))
    import spark.implicits._
    val newRows = Seq((100L, "a freshly inserted document")).toDF("vec_id", "text")
    val appended = textTable.insertText(newRows, "text")
    assert(appended.df.count() == 6)
    // the new row's embedding has the configured width and rides the text
    val row = appended.df.filter(col("vec_id") === 100L)
      .select(size(col("embedding")), col("text")).collect()(0)
    assert(row.getInt(0) == Tables.EmbeddingDim)
    assert(row.getString(1) == "a freshly inserted document")
  }

  test("searchText returns k rows with score column (api.py:164-168)") {
    val out = base.searchText(spark, "hello graft", 7)
    assert(out.columns.contains("score"))
    assert(out.count() == 7)
  }

  test("cosine search and searchText return each hit's stored vector, bit for bit") {
    val stored = base.df.select("vec_id", "embedding").as[(Long, Seq[Double])].collect().toMap
    def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)
    val hits = Seq(
      "search" -> base.search(spark.range(1).select(typedLit(stored(3L)).as("qvec")), "qvec", 5),
      "searchText" -> base.searchText(spark, "hello graft", 5))
    for ((name, df) <- hits) {
      val rows = df.select("vec_id", "embedding").as[(Long, Seq[Double])].collect()
      assert(rows.length == 5, name)
      rows.foreach { case (id, v) =>
        assert(bits(v) == bits(stored(id)), s"$name: vec_id $id returned a rewritten vector")
      }
    }
  }

  test("partitioned save prunes partitions at the scan (PartitionFilters)") {
    val path = tmpDir()
    base.save(path, partitionBy = Seq("label"))
    val loaded = VectorTable.load(spark, path)
    val plan = loaded.df.filter(col("label") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(label"),
      s"no partition pruning in plan:\n$plan")
    // pruned read still returns the right rows
    assert(loaded.df.filter(col("label") === 3).count() ==
      base.df.filter(col("label") === 3).count())
  }

  test("dropTable clears a table dir left behind under the session's warehouse") {
    val t = "emb_stale_dir"
    val loc = new Path(spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(loc, "part-0")).close()
    Tables.dropTable(spark, t)
    assert(!fs.exists(loc))
    try {
      base.saveBucketed(t, 2)
      assert(spark.table(t).count() == base.df.count())
    } finally Tables.dropTable(spark, t)
    assert(!fs.exists(loc))
  }

  test("bucketed tables equi-join without a shuffle (co-located join)") {
    Seq("emb_bucketed_a", "emb_bucketed_b").foreach(Tables.dropTable(spark, _))
    base.saveBucketed("emb_bucketed_a", 8)
    base.saveBucketed("emb_bucketed_b", 8)
    // the fixture is broadcast-sized, which would bypass the bucketing;
    // disable auto-broadcast to observe the at-scale (co-located) plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = spark.table("emb_bucketed_a").select(col("vec_id"), col("label").as("la"))
      val b = spark.table("emb_bucketed_b").select(col("vec_id"), col("label").as("lb"))
      val joined = a.join(b, "vec_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join over bucketed tables:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == base.df.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("withMetaMap + filterMeta equals the typed-column filter (storage.py:19)") {
    val t = base.withMetaMap("meta", Seq("label"))
      .filterMeta("meta", "label", "3")
    val typed = base.df.filter(col("label") === 3)
    assert(t.df.count() == typed.count())
    assert(t.df.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ==
      typed.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("filterMeta map-key predicate folds to a pushed parquet filter") {
    val plan = base.withMetaMap("meta", Seq("label"))
      .filterMeta("meta", "label", "3")
      .df.queryExecution.executedPlan.toString
    // GetMapValue(map(k -> col), k) folds back to the column
    // (SimplifyExtractValueOps): the scan's DataFilters must reference
    // the raw column (label, via cast-to-string), not a map lookup. The
    // projection above the scan legitimately still builds the map.
    assert(plan.contains("DataFilters: [isnotnull(label"),
      s"map-key filter did not fold to the promoted column:\n$plan")
    assert(!plan.contains("DataFilters: [isnotnull(map"),
      s"map build survived into the scan filter:\n$plan")
  }

  test("filterMeta on an unpromoted (missing) key matches nothing, not errors") {
    val t = base.withMetaMap("meta", Seq("label"))
      .filterMeta("meta", "nope", "x")
    assert(t.df.count() == 0)
  }

  test("a cached search runs one job: building it runs none, and nothing is broadcast") {
    val served = VectorTable(
      Tables.embeddings(spark, Sf0001).select("vec_id", "embedding"),
      VectorTableConfig(dim = Tables.EmbeddingDim, metric = "cosine"))
      .cached()
    try {
      served.df.count() // fill the cache outside the counted jobs
      val qvec = served.df.filter(col("vec_id") === 3)
        .select("embedding").head().getSeq[Double](0)
      val searches = Seq(
        "search" -> (() => served.search(
          spark.range(1).select(typedLit(qvec).as("qvec")), "qvec", 5)),
        "searchText" -> (() => served.searchText(spark, "hello graft", 5)))
      for ((name, search) <- searches) {
        val (hits, built) = countJobs(search())
        assert(built == 0, s"$name: building ran $built jobs")
        val (rows, ran) = countJobs(hits.collect())
        assert(ran == 1, s"$name: collecting ran $ran jobs")
        assert(rows.length == 5)
        assert(broadcastNodes(hits).isEmpty, s"$name:\n${hits.queryExecution.executedPlan}")
      }
    } finally served.uncached()
  }

  test("cached() serves repeated searches from the in-memory relation") {
    val served = VectorTable(
      Tables.embeddings(spark, Sf0001).select("vec_id", "embedding"),
      VectorTableConfig(dim = Tables.EmbeddingDim, metric = "cosine"))
      .cached()
    try {
      val q = served.searchText(spark, "hello graft", 5)
      val first = q.collect()
      val plan = served.searchText(spark, "hello graft", 5)
        .queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"),
        s"cached serving path still scans parquet:\n$plan")
      // cached results identical to a cold scan
      val cold = VectorTable(
        Tables.embeddings(spark, Sf0001).select("vec_id", "embedding"),
        VectorTableConfig(dim = Tables.EmbeddingDim, metric = "cosine"))
        .searchText(spark, "hello graft", 5).collect()
      assert(first.map(_.toSeq).toSeq == cold.map(_.toSeq).toSeq)
    } finally served.uncached()
  }
}
