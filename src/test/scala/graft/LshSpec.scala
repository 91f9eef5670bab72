package graft

import org.apache.spark.sql.functions._

import graft.functions.Metric
import graft.operators.VectorSearch

/** The approximate (LSH-bucketed) knn path vs the exact knn join — the
  * reference's differential-oracle pattern
  * (test_v3_features.py:29-46, ANN top-1 == brute-force top-1),
  * generalized to recall@k, plus determinism of the arithmetic buckets. */
class LshSpec extends SparkSpec {

  private val Dim = Tables.EmbeddingDim
  private val K = 5

  private lazy val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("bucketing is deterministic across evaluations") {
    val b1 = emb.select(col("vec_id"),
      VectorSearch.lshBucket(col("embedding"), Dim, 8).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = emb.repartition(7).select(col("vec_id"),
      VectorSearch.lshBucket(col("embedding"), Dim, 8).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 == b2)
  }

  test("bucket ids stay within [0, 2^bits)") {
    val mm = emb.select(VectorSearch.lshBucket(col("embedding"), Dim, 6).as("b"))
      .agg(min("b"), max("b")).collect()(0)
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < 64L)
  }

  test("bucketed candidates are a subset of all non-self pairs with exact scores") {
    val approx = VectorSearch.bucketedKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4)
    // every returned score must equal the exact cosine for that pair
    val n = emb.select(col("vec_id"), graft.functions.VectorFunctions
      .l2Normalize(col("embedding")).as("nemb"))
    val joined = approx.join(n.withColumnRenamed("vec_id", "query_id"), "query_id")
      .withColumnRenamed("nemb", "qn")
      .join(n.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .withColumn("exact", graft.functions.VectorFunctions.dot(col("qn"), col("nemb")))
    val bad = joined.filter(abs(col("score") - col("exact")) > 1e-12).count()
    assert(bad == 0)
  }

  test("recall@5 of the bucketed join vs exact knn is above the floor") {
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    val approx = pairsOf(VectorSearch.bucketedKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4))
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"recall@$K bits=4: $recall%.3f (${exact.size} exact pairs)")
    // single-probe sign-LSH on near-uniform vectors: modest recall is
    // expected; the assertion pins "the bucketing is not broken", the
    // info line records the measured value for tuning.
    assert(recall >= 0.05, f"recall collapsed: $recall%.3f")
  }

  test("multi-probe candidates strictly contain single-probe and recall does not regress") {
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    val single = pairsOf(VectorSearch.bucketedKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4))
    val multi = pairsOf(VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4, flips = 2))
    val rSingle = (exact intersect single).size.toDouble / exact.size
    val rMulti = (exact intersect multi).size.toDouble / exact.size
    info(f"recall@$K bits=4: single-probe $rSingle%.3f -> multi-probe(2 flips) $rMulti%.3f")
    // the probe set contains the home bucket, so the candidate pool is a
    // superset — top-k recall cannot regress (top-k itself may differ
    // only by ADDING better-scoring true neighbors)
    assert(rMulti >= rSingle,
      f"multi-probe recall $rMulti%.3f regressed below single-probe $rSingle%.3f")
    // and on this fixture the extra probes genuinely buy recall
    assert(rMulti > rSingle,
      f"multi-probe added no recall on the fixture ($rMulti%.3f == $rSingle%.3f)")
  }

  test("multi-probe probe generation stays within codegen limits (no interpreted fallback)") {
    // the r6 regression this pins: composing the probe arithmetic as one
    // Column tree re-expanded bv1/penalties into a ~10k-node expression,
    // blew janino's method limit and silently fell back to interpreted
    // execution (ERROR CodeGenerator per run). With fallback disabled,
    // any recurrence fails the test instead of degrading silently.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val n = VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
        Metric.Cosine, k = K, dim = Dim, bits = 8, flips = 2).count()
      assert(n > 0)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("multi-probe probes exactly 1 + flips buckets per query, home bucket included") {
    // flips=1 must be a sub-probe-set of flips=2 results' candidate pool:
    // every pair found with 1 flip is found with 2
    val f1 = pairsOf(VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4, flips = 1))
    val f2 = pairsOf(VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4, flips = 2))
    val sp = pairsOf(VectorSearch.bucketedKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4))
    // top-k truncation can only drop pairs in favor of BETTER ones; on
    // the candidate-pool level the containment chain is single ⊂ f1 ⊂ f2.
    // At the result level we assert via recall against exact knn.
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    def r(s: Set[(Long, Long)]) = (exact intersect s).size.toDouble / exact.size
    assert(r(f1) >= r(sp) && r(f2) >= r(f1),
      f"recall not monotone in probes: sp=${r(sp)}%.3f f1=${r(f1)}%.3f f2=${r(f2)}%.3f")
  }

  test("multi-probe emits each (query, neighbor) candidate at most once " +
      "— no OR-dedup distinct needed, even for degenerate vectors") {
    // r18: multiProbeKnnJoin dropped its candidate `.distinct()` because
    // the single-band index holds each neighbor in exactly one bucket and
    // a query's probe buckets are pairwise distinct. A zero vector is the
    // degenerate case (every margin comparison falls to the 0 branch, all
    // probes collapse to bucket 0) — array_distinct must dedup its probes
    // so no candidate pair ranks twice.
    import spark.implicits._
    val degenerate = Seq((900001L, Array.fill(Dim)(0.0))).toDF("vec_id", "embedding")
    val withZero = emb.union(degenerate)
    val out = VectorSearch.multiProbeKnnJoin(withZero, withZero, "embedding",
      "vec_id", Metric.Cosine, k = K, dim = Dim, bits = 4, flips = 2)
    val dup = out.groupBy("query_id", "neighbor_id")
      .count().filter(col("count") > 1).count()
    assert(dup == 0, s"$dup duplicated (query, neighbor) rows in multiprobe top-k")
  }

  test("multiband: band 0 reproduces the single-band bucketing") {
    val a = emb.select(col("vec_id"),
      VectorSearch.lshBucket(col("embedding"), Dim, 8).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = emb.select(col("vec_id"),
      VectorSearch.lshBucketBand(col("embedding"), Dim, 8, band = 0).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("multiband candidates are a superset of every single band's candidates") {
    val multi = pairsOf(VectorSearch.multibandKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 8, bands = 4))
    val single = pairsOf(VectorSearch.bucketedKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 8))
    assert(single.subsetOf(multi),
      s"band-0 candidates must survive the union (missing ${(single -- multi).size})")
  }

  test("multiband recall@5 >= 0.8 vs exact knn (HNSW-grade, bits=4 x 16 bands)") {
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    // Parameters sized to this corpus (n=500, near-uniform vectors whose
    // true top-5 sit at cosine ~0.32 — LSH-hard data): 16 buckets/band
    // keeps per-bucket all-pairs bounded, 16 bands buy the recall. At
    // larger N, raise bits with log2(N) and keep bands.
    val approx = pairsOf(VectorSearch.multibandKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4, bands = 16))
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"multiband recall@$K bits=4 bands=16: $recall%.3f")
    assert(recall >= 0.8, f"recall below the HNSW-replacement floor: $recall%.3f")
  }

  test("capped multiband candidates are a subset of uncapped (whole buckets drop, nothing is added)") {
    val uncapped = pairsOf(VectorSearch.multibandKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 4, bands = 16))
    val capped = pairsOf(VectorSearch.multibandKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 4, bands = 16,
      maxBucketFactor = Some(2.0)))
    assert(capped.subsetOf(uncapped),
      s"cap invented candidates (${(capped -- uncapped).size} not in uncapped)")
    // and the fixture's over-dense tail actually gets dropped — the cap
    // must certify the DROP path, not a pass-through (at 4 bits the
    // measured occupancy is mean 31.25 at BOTH scales — the embeddings
    // table is 500 rows in each fixture — with max 71 at sf0.001 (this
    // suite) and max 72 at sf0.01 (the declared q_ann_recall_capped
    // row), so a 2x cap (62.5) bites at both)
    assert(capped.size < uncapped.size,
      s"cap dropped nothing (${capped.size} == ${uncapped.size} pairs)")
  }

  test("capped multiband recall@5 >= 0.8 (graceful decay: a dropped bucket keeps its other bands)") {
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    val capped = pairsOf(VectorSearch.multibandKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, dim = Dim, bits = 4, bands = 16,
      maxBucketFactor = Some(2.0)))
    val recall = (exact intersect capped).size.toDouble / exact.size
    info(f"capped (2x mean) multiband recall@$K bits=4 bands=16: $recall%.3f")
    assert(recall >= 0.8,
      f"bucket cap broke the HNSW-replacement recall floor: $recall%.3f")
  }

  test("capped multi-probe candidates are a subset of uncapped and a huge factor is a no-op") {
    // r15 (VERDICT r14 #5): the occupancy cap applied to the single-band
    // probe join. Two pins: (a) whole corpus buckets drop, nothing is
    // added; (b) a factor above the max/mean ratio keeps every bucket —
    // the capped plan must be result-identical to the uncapped one (the
    // fused==composed treatment for the cap's plan rewrite).
    val uncapped = pairsOf(VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 4, flips = 2))
    val capped = pairsOf(VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 4, flips = 2,
      maxBucketFactor = Some(2.0)))
    assert(capped.subsetOf(uncapped),
      s"cap invented candidates (${(capped -- uncapped).size} not in uncapped)")
    // at bits=4 the fixture's occupancy skew (max ~71 vs mean 31.25 —
    // the multiband cap test's measured numbers, same bucketing at
    // band 0) makes a 2x cap bite
    assert(capped.size < uncapped.size,
      s"cap dropped nothing (${capped.size} == ${uncapped.size} pairs)")
    val noop = pairsOf(VectorSearch.multiProbeKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1000, dim = Dim, bits = 4, flips = 2,
      maxBucketFactor = Some(1e9)))
    assert(noop == uncapped,
      s"huge-factor cap is not a no-op (${(noop diff uncapped).size} + ${(uncapped diff noop).size} differing pairs)")
  }

  test("shuffled and broadcast vector re-attach return the same rows (capped multiband and multi-probe)") {
    // the count hints only choose broadcast vs shuffled re-attach; at
    // fixture scale the true counts always broadcast, so huge hints plus
    // disabled auto-broadcast force the shuffled branch for comparison
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val queries = emb.filter(col("vec_id") % 20 === 0)
    val (nData, nQueries) = (emb.count(), queries.count())
    val joins: Seq[(String, (Long, Long) => DataFrame)] = Seq(
      "multiband" -> ((nd, nq) => VectorSearch.multibandKnnJoin(queries, emb,
        "embedding", "vec_id", Metric.Cosine, k = K, dim = Dim, bits = 4, bands = 16,
        maxBucketFactor = Some(2.0),
        dataCountHint = Some(nd), queriesCountHint = Some(nq))),
      "multi-probe" -> ((nd, nq) => VectorSearch.multiProbeKnnJoin(queries, emb,
        "embedding", "vec_id", Metric.Cosine, k = K, dim = Dim, bits = 4, flips = 2,
        maxBucketFactor = Some(4.0),
        dataCountHint = Some(nd), queriesCountHint = Some(nq))))
    val plans = new AdaptiveSparkPlanHelper {}
    def broadcastsIds(df: DataFrame): Boolean =
      plans.collect(df.queryExecution.executedPlan) { case j: BroadcastHashJoinExec => j }
        .exists(j => (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name))
          .exists(n => n == "query_id" || n == "neighbor_id"))
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    joins.foreach { case (name, join) =>
      val prev = confs.map(c => c -> spark.conf.getOption(c))
      val (shuffled, shuffledRows) = try {
        confs.foreach(spark.conf.set(_, "-1"))
        val df = join(1L << 30, 1L << 30)
        (df, df.collect().toSet)
      } finally prev.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None) => spark.conf.unset(c)
      }
      assert(!broadcastsIds(shuffled),
        s"$name: re-attach still broadcast under forced hints:\n${shuffled.queryExecution.executedPlan}")
      val exact = join(nData, nQueries)
      val exactRows = exact.collect().toSet
      assert(broadcastsIds(exact), s"$name: true counts no longer broadcast the re-attach")
      assert(shuffledRows.nonEmpty && shuffledRows == exactRows,
        s"$name: ${(shuffledRows diff exactRows).size} + ${(exactRows diff shuffledRows).size} differing rows")
    }
  }

  test("multiband top-1 agreement with brute force (the reference's own ANN contract)") {
    // test_v3_features.py:29-46 pins HNSW top-1 == brute-force top-1;
    // the batch replacement should agree for MOST queries (argmax
    // collisions are the hardest case for LSH on near-uniform vectors)
    def top1(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.filter(col("rank") === 1).select("query_id", "neighbor_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = top1(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1, excludeSelf = true, broadcastData = true))
    val approx = top1(VectorSearch.multibandKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = 1, dim = Dim, bits = 4, bands = 16))
    val agree = exact.count { case (q, n) => approx.get(q).contains(n) }
    val rate = agree.toDouble / exact.size
    info(f"top-1 agreement: $rate%.3f ($agree/${exact.size})")
    assert(rate >= 0.85, f"top-1 agreement collapsed: $rate%.3f (0.908 measured)")
  }

  test("incremental LSH index append equals a full rebuild (O12 batch analog, ann.py:78-91)") {
    val existing = emb.filter(col("vec_id") < 400)
    val appended = emb.filter(col("vec_id") >= 400)
    // model the persisted index: write the existing rows' bucket table to
    // parquet and read it back, as a real pipeline would
    val path = scratchDir("lsh_idx_")
    VectorSearch.lshBucketTable(existing, "embedding", "vec_id",
      Metric.Cosine, Dim, bits = 8, bands = 4)
      .write.mode("overwrite").parquet(path)
    val persisted = spark.read.parquet(path)
    val incremental = VectorSearch.lshIndexAppend(persisted, appended,
      "embedding", "vec_id", Metric.Cosine, Dim, bits = 8, bands = 4)
    val rebuild = VectorSearch.lshBucketTable(emb, "embedding", "vec_id",
      Metric.Cosine, Dim, bits = 8, bands = 4)
    val asSet = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(asSet(incremental) == asSet(rebuild))
    assert(incremental.count() == emb.count() * 4)
  }

  test("index compaction rewrites layout only: rows equal, strictly fewer files, band dirs prune") {
    val base = scratchDir("lsh_compact_")
    val frag = s"$base/frag"
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      VectorSearch.lshBucketTable(df, "embedding", "vec_id",
        Metric.Cosine, Dim, bits = 8, bands = 4).repartition(4)
    // initial build + two micro-batch-shaped appends, each leaving its
    // own 4-way part files — the small-file accumulation compaction fixes
    bucketed(emb.filter(col("vec_id") < 400)).write.parquet(frag)
    bucketed(emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 0))
      .write.mode("append").parquet(frag)
    bucketed(emb.filter(col("vec_id") >= 400 && col("vec_id") % 2 === 1))
      .write.mode("append").parquet(frag)
    VectorSearch.compactIndex(spark, frag, s"$base/compact")
    val fragDf = spark.read.parquet(frag)
    val compDf = spark.read.parquet(s"$base/compact")
    val asSet = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("vec_id"), col("band").cast("int"), col("bucket"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(asSet(compDf) == asSet(fragDf), "compaction changed the row set")
    val fragFiles = fragDf.inputFiles.length
    val compFiles = compDf.inputFiles.length
    assert(compFiles == 4, s"expected one file per band dir, got $compFiles")
    assert(compFiles < fragFiles,
      s"compaction did not reduce files: $compFiles !< $fragFiles")
    // band-restricted probe prunes whole directories at plan time
    val plan = spark.read.parquet(s"$base/compact")
      .filter(col("band") === 2).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("""PartitionFilters: \[[^\]]*band[^\]]* = 2[^\]]*\]""".r
      .findFirstIn(plan).isDefined, s"band probe not partition-pruned:\n$plan")
  }

  test("incremental IVF append with frozen centroids equals a full rebuild") {
    val existing = emb.filter(col("vec_id") < 400)
    val appended = emb.filter(col("vec_id") >= 400)
    // centroids come from the EXISTING corpus and stay frozen across the
    // append — the IVF serving contract (recluster offline, not per add)
    val cents = VectorSearch.ivfCentroids(existing, "embedding", "vec_id", 16, Metric.Cosine)
    val incremental = VectorSearch.ivfIndexAppend(
      VectorSearch.ivfAssignTable(existing, "embedding", "vec_id", Metric.Cosine, cents),
      appended, "embedding", "vec_id", Metric.Cosine, cents)
    val rebuild = VectorSearch.ivfAssignTable(emb, "embedding", "vec_id", Metric.Cosine, cents)
    val asSet = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asSet(incremental) == asSet(rebuild))
  }

  test("IVF: assignment is deterministic and 2-probe recall beats 1-probe") {
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    def recallWith(probes: Int): Double = {
      val approx = pairsOf(VectorSearch.ivfKnnJoin(emb, emb, "embedding", "vec_id",
        Metric.Cosine, k = K, c = 16, nProbes = probes))
      (exact intersect approx).size.toDouble / exact.size
    }
    val r1 = recallWith(1)
    val r2 = recallWith(2)
    info(f"IVF recall@$K: 1-probe $r1%.3f, 2-probe $r2%.3f")
    assert(r2 >= r1, f"multi-probe must not lose recall: $r1%.3f -> $r2%.3f")
    assert(r2 >= 0.1, f"IVF recall collapsed: $r2%.3f")
  }

  test("IVF refined centroids beat first-c recall at equal probes") {
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    val firstC = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val refined = VectorSearch.ivfRefineCentroids(emb, "embedding", firstC,
      Metric.Cosine, iters = 3)
    def recallWith(cents: Seq[(Long, Seq[Double])]): Double = {
      val approx = pairsOf(VectorSearch.ivfKnnJoin(emb, emb, "embedding", "vec_id",
        Metric.Cosine, k = K, c = 16, nProbes = 2, centroids = Some(cents)))
      (exact intersect approx).size.toDouble / exact.size
    }
    val rFirst = recallWith(firstC)
    val rRefined = recallWith(refined)
    info(f"IVF recall@$K 2-probe: first-c $rFirst%.3f, refined $rRefined%.3f")
    assert(rRefined >= rFirst,
      f"refinement lost recall: $rFirst%.3f -> $rRefined%.3f")
    // measured 0.394 vs 0.310 first-c; 0.35 leaves margin for the
    // mean-rounding nondeterminism in refined centroids' last bits
    assert(rRefined >= 0.35, f"refined recall below the pinned floor: $rRefined%.3f")
  }

  test("IVF k-means refinement does not decrease the clustering objective") {
    val init = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val before = VectorSearch.ivfObjective(emb, "embedding", init, Metric.Cosine)
    val refined = VectorSearch.ivfRefineCentroids(emb, "embedding", init,
      Metric.Cosine, iters = 2)
    val after = VectorSearch.ivfObjective(emb, "embedding", refined, Metric.Cosine)
    info(f"spherical k-means objective: init $before%.4f -> refined $after%.4f")
    assert(after >= before - 1e-9,
      f"refinement worsened the objective: $before%.4f -> $after%.4f")
    // refined centroids plug into the same join path
    val pairs = VectorSearch.ivfKnnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, nProbes = 2, centroids = Some(refined))
    assert(pairs.count() > 0)
  }

  test("random projection is deterministic and preserves neighbor structure (recall floor)") {
    val proj = emb.select(col("vec_id"),
      VectorSearch.randomProjection(col("embedding"), Dim, 16).as("embedding"))
    // deterministic across partitionings
    val p1 = proj.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p2 = emb.repartition(7).select(col("vec_id"),
      VectorSearch.randomProjection(col("embedding"), Dim, 16).as("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p1 == p2)
    // knn in the 16-dim projected space vs exact knn in the original
    // 64-dim space. The fixture's vectors are near-uniform — top-5
    // neighborhoods of uniform data are intrinsically unstable under
    // 4x compression, so absolute recall is modest (measured 0.086);
    // the meaningful gate is FAR above chance (picking 5 of ~500 at
    // random ≈ 0.01) — structure survives, noise would not.
    val exact = pairsOf(VectorSearch.knnJoin(emb, emb, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    val inProj = pairsOf(VectorSearch.knnJoin(proj, proj, "embedding", "vec_id",
      Metric.Cosine, k = K, excludeSelf = true, broadcastData = true))
    val recall = (exact intersect inProj).size.toDouble / exact.size
    info(f"projected-space recall@$K (64->16 dims): $recall%.3f vs ~0.01 chance")
    assert(recall >= 0.04, f"projection no better than chance: $recall%.3f")
  }

  test("IVF assignment puts every centroid vector in its own bucket") {
    val centroids = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    import org.apache.spark.sql.functions.{col => c}
    val prepared = emb
      .filter(c("vec_id") < 16)
      .withColumn("embedding", graft.functions.VectorFunctions.l2Normalize(c("embedding")))
      .withColumn("cid", VectorSearch.ivfAssign(c("embedding"), centroids, Metric.Cosine))
    val bad = prepared.filter(c("cid") =!= c("vec_id")).count()
    assert(bad == 0, "a centroid's nearest centroid must be itself")
  }

  // ------------------------------------------------ product quantization ---

  private lazy val pqCbs =
    VectorSearch.pqCodebooks(emb, "embedding", "vec_id", 8, 16, Metric.Cosine)

  test("PQ codebooks: 8 subspaces x 16 centroids of 8 dims each") {
    assert(pqCbs.length == 8)
    assert(pqCbs.forall(_.length == 16))
    assert(pqCbs.forall(_.forall(_._2.length == 8)))
    assert(pqCbs.forall(cb => cb.map(_._1) == (0 until 16)))
  }

  test("PQ packed codes match the sequential per-subspace argmin model") {
    import spark.implicits._
    val got = VectorSearch.pqEncode(emb, "embedding", "vec_id", pqCbs, Metric.Cosine)
      .as[(Long, Long)].collect().toMap
    def norm(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum) + 1e-12
      v.map(_ / n)
    }
    val vecs = emb.collect().map(r => r.getLong(0) -> norm(r.getSeq[Double](1)))
    val expected = vecs.map { case (id, v) =>
      val packed = (0 until 8).map { j =>
        val sub = v.slice(j * 8, (j + 1) * 8)
        val best = pqCbs(j).map { case (code, cv) =>
          val d = math.sqrt(
            sub.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
          (d, code)
        }.min
        best._2.toLong << (4 * j)
      }.reduce(_ | _)
      id -> packed
    }.toMap
    assert(got == expected)
  }

  test("PQ encoding is deterministic across repartitioning") {
    import spark.implicits._
    val a = VectorSearch.pqEncode(emb, "embedding", "vec_id", pqCbs)
      .as[(Long, Long)].collect().toMap
    val b = VectorSearch.pqEncode(emb.repartition(7), "embedding", "vec_id", pqCbs)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("PQ ADC search approximates exact cosine top-10 (mean recall floor)") {
    import spark.implicits._
    val k = 10
    val recalls = Seq(0L, 7L, 123L, 250L, 400L).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("qvec"))
      val exact = VectorSearch.topK(emb, "embedding", "vec_id",
        q, "qvec", Metric.Cosine, k)
        .select("vec_id").as[Long].collect().toSet
      val approx = VectorSearch.pqSearch(emb, "embedding", "vec_id",
        q, "qvec", pqCbs, k, Metric.Cosine)
        .select("vec_id").as[Long].collect().toSet
      (exact intersect approx).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ ADC mean recall@$k over 5 queries: $mean%.3f " +
      f"(per-query: ${recalls.map(r => f"$r%.2f").mkString(", ")})")
    // 8x16 PQ on near-uniform random vectors is a coarse 32-bit sketch;
    // chance overlap is k/N = 0.02. Measured 0.300 — deterministic
    // (fixed codebooks, fixed fixture), so the floor pins just below it.
    assert(mean >= 0.25, f"PQ recall regressed: $mean%.3f")
  }

  test("IVF+PQ: results live in probed cells and score exactly as flat PQ there") {
    import spark.implicits._
    val k = 10
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val index = VectorSearch.ivfPqIndexTable(emb, "embedding", "vec_id",
      cents, pqCbs, Metric.Cosine)
    val got = VectorSearch.ivfPqSearchIndexed(index, "vec_id",
      q, "qvec", cents, pqCbs, nProbes = 2, k = k, metric = Metric.Cosine)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == k)
    // routing invariant: every hit's cell is one of the query's 2 probes
    val probes = got.map(_._2).toSet
    assert(probes.size <= 2, s"hits span ${probes.size} cells: $probes")
    // composition invariant: restricting flat-PQ ADC (its own per-code
    // encode, no packed index) to the probed cells' members reproduces
    // the packed-index IVF+PQ ranking bit-for-bit
    val assigned = emb
      .withColumn("cid", VectorSearch.ivfAssign(
        graft.functions.VectorFunctions.l2Normalize(col("embedding")),
        cents, Metric.Cosine))
    val memberIds = assigned.filter(col("cid").isin(probes.toSeq: _*))
      .select("vec_id").as[Long].collect().toSet
    val flat = VectorSearch.pqSearch(
      emb.filter(col("vec_id").isin(memberIds.toSeq: _*)),
      "embedding", "vec_id", q, "qvec", pqCbs, k, Metric.Cosine)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(r => (r._1, r._3)).toSeq == flat.toSeq,
      "IVF+PQ ranking diverged from flat PQ restricted to probed cells")
  }

  test("IVF+PQ recall@10 vs exact (2 of 16 probes, coarse codes — above chance)") {
    import spark.implicits._
    val k = 10
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val index = VectorSearch.ivfPqIndexTable(emb, "embedding", "vec_id",
      cents, pqCbs, Metric.Cosine)
    val recalls = Seq(0L, 7L, 123L, 250L, 400L).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("qvec"))
      val exact = VectorSearch.topK(emb, "embedding", "vec_id",
        q, "qvec", Metric.Cosine, k)
        .select("vec_id").as[Long].collect().toSet
      val approx = VectorSearch.ivfPqSearchIndexed(index, "vec_id",
        q, "qvec", cents, pqCbs, nProbes = 2, k = k, metric = Metric.Cosine)
        .select("vec_id").as[Long].collect().toSet
      (exact intersect approx).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF+PQ mean recall@$k over 5 queries: $mean%.3f " +
      f"(per-query: ${recalls.map(r => f"$r%.2f").mkString(", ")})")
    // flat PQ measures 0.300 on this fixture; the 2/16-probe routing
    // keeps the cells where the true neighbors live (measured 0.320 —
    // the cells it drops mostly held ADC false positives). Chance is
    // 0.02; deterministic fixture, so the floor pins just below.
    assert(mean >= 0.25, f"IVF+PQ recall regressed: $mean%.3f")
  }

  test("IVF+PQ indexed: persisted cell-partitioned table == in-memory ivfPqIndexTable frame") {
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val path = scratchDir("ivfpq_idx_")
    val inMemory = VectorSearch.ivfPqIndexTable(emb, "embedding", "vec_id",
      cents, pqCbs, Metric.Cosine)
    inMemory.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    val persisted = spark.read
      .schema("vec_id BIGINT, pq_code BIGINT, centroid_id BIGINT").parquet(path)
    def rows(index: org.apache.spark.sql.DataFrame) =
      index.select("vec_id", "centroid_id", "pq_code").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(persisted) == rows(inMemory),
      "cell-partitioned round-trip changed the index rows")
    def search(index: org.apache.spark.sql.DataFrame) =
      VectorSearch.ivfPqSearchIndexed(index, "vec_id",
        q, "qvec", cents, pqCbs, nProbes = 2, k = 10, metric = Metric.Cosine)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(search(persisted) == search(inMemory),
      "search over the persisted index diverged from the in-memory frame")
  }

  test("IVF+PQ refined recall@10 >= 0.8 vs exact (the HNSW-replacement tier)") {
    import spark.implicits._
    val k = 10
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val index = VectorSearch.ivfPqIndexTable(emb, "embedding", "vec_id",
      cents, pqCbs, Metric.Cosine)
    val recalls = Seq(0L, 7L, 123L, 250L, 400L).map { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding").as("qvec"))
      val exact = VectorSearch.topK(emb, "embedding", "vec_id",
        q, "qvec", Metric.Cosine, k)
        .select("vec_id").as[Long].collect().toSet
      val refined = VectorSearch.ivfPqSearchRefined(index, emb, "embedding",
        "vec_id", q, "qvec", cents, pqCbs, nProbes = 8, nCandidates = 200,
        k = k, metric = Metric.Cosine)
        .select("vec_id").as[Long].collect().toSet
      (exact intersect refined).size.toDouble / k
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF+PQ refined mean recall@$k over 5 queries: $mean%.3f " +
      f"(per-query: ${recalls.map(r => f"$r%.2f").mkString(", ")})")
    // exact re-rank removes quantization error inside the candidate
    // pool, so recall is limited only by 8/16-probe routing + the
    // 200-candidate ADC shortlist — the reference's near-exact ANN bar
    // (test_v3_features.py:29-46).
    assert(mean >= 0.8, f"refined recall below the HNSW-replacement floor: $mean%.3f")
  }

  test("IVF+PQ refined at full probe width == exact brute force (the knob reaches parity)") {
    import spark.implicits._
    // the reference's ANN bar is top-k == brute force (test_v3_features
    // .py:29-46, ef_search=50 ~ near-exact). The refined tier reaches
    // that bar EXACTLY when routing loss is removed (probe all cells)
    // and the shortlist covers the corpus: quantization error cannot
    // reorder the final top-k because the re-rank scores true vectors
    // with the same kernel as brute force. This pins the tunable path
    // to the reference's contract — serving configs trade it for IO.
    val k = 10
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val index = VectorSearch.ivfPqIndexTable(emb, "embedding", "vec_id",
      cents, pqCbs, Metric.Cosine)
    Seq(0L, 123L, 400L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = VectorSearch.topK(emb, "embedding", "vec_id",
        q, "qvec", Metric.Cosine, k)
        .select("vec_id").as[Long].collect().toSeq
      val refined = VectorSearch.ivfPqSearchRefined(index, emb, "embedding",
        "vec_id", q, "qvec", cents, pqCbs, nProbes = cents.size,
        nCandidates = Int.MaxValue / 2, k = k, metric = Metric.Cosine)
        .select("vec_id").as[Long].collect().toSeq
      assert(refined == exact,
        s"full-width refined diverged from brute force for query $qid")
    }
  }
}
