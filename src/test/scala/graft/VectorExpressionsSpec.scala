package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.expressions.VectorExpressions
import graft.expressions.VectorExpressions.CentroidScore
import graft.functions.{Metric, VectorFunctions => VF}
import graft.operators.VectorSearch

/** The codegen kernels against their executable HOF specification, plus
  * seeded-random property checks (cosine range, normalize idempotence).
  * Bit-exact agreement matters: the DuckDB oracle SQL mirrors the HOF
  * fold order, so codegen == HOF is what keeps the driver's hash gate
  * green. */
class VectorExpressionsSpec extends SparkSpec {

  /** Fixture embeddings with a deterministic pseudo-random partner vector
    * derived per row — exercises real dim-64 data, not just hand vectors. */
  private lazy val pairs = {
    val e = Tables.embeddings(spark, Sf0001).limit(100)
    e.select(col("vec_id"), col("embedding").as("a"),
      // partner = reversed embedding: same values, different order
      reverse(col("embedding")).as("b"))
      .cache()
  }

  private def maxAbsDiff(colA: org.apache.spark.sql.Column, colB: org.apache.spark.sql.Column): Double =
    pairs.select(max(abs(colA - colB))).collect()(0).getDouble(0)

  test("codegen dot == HOF dot, bit-exact") {
    assert(maxAbsDiff(VF.dot(col("a"), col("b")), VF.hofDot(col("a"), col("b"))) == 0.0)
  }

  test("codegen cosine == HOF cosine (normalize-both-then-dot), bit-exact") {
    assert(maxAbsDiff(VF.cosine(col("a"), col("b")), VF.hofCosine(col("a"), col("b"))) == 0.0)
  }

  test("codegen euclidean == HOF euclidean, bit-exact") {
    assert(maxAbsDiff(
      VF.euclideanDistance(col("a"), col("b")),
      VF.hofEuclideanDistance(col("a"), col("b"))) == 0.0)
  }

  test("codegen normalize == HOF normalize, bit-exact per element") {
    val d = pairs.select(
      max(abs(VF.dot(VF.l2Normalize(col("a")), VF.l2Normalize(col("a")))
        - VF.dot(VF.hofL2Normalize(col("a")), VF.hofL2Normalize(col("a"))))))
      .collect()(0).getDouble(0)
    assert(d == 0.0)
    // element-wise too
    val elems = pairs.select(
      posexplode(zip_with(VF.l2Normalize(col("a")), VF.hofL2Normalize(col("a")),
        (x, y) => abs(x - y))).as(Seq("i", "d")))
      .agg(max("d")).collect()(0).getDouble(0)
    assert(elems == 0.0)
  }

  test("every kernel: generated code only (no fallback) == interpreted eval") {
    // Both paths call the one Scala body, so a doGenCode that failed to
    // compile would fall back to the same results: with fallback off it
    // raises instead. Fixture parquet, not a local relation, so the
    // optimizer cannot fold the projection before execution.
    val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val cbs = VectorSearch.pqCodebooks(emb, "embedding", "vec_id", 8, 16, Metric.Cosine)
    val cents = emb.orderBy("vec_id").limit(8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
    val (e, r) = (col("embedding"), reverse(col("embedding")))
    def kernels(): Array[Row] = emb.select(col("vec_id") +: Seq(
      VF.dot(e, r), VF.cosine(e, r), VF.euclideanDistance(e, r), VF.l2Normalize(e),
      VectorExpressions.signLshBuckets(e, Tables.EmbeddingDim, 12, 8),
      VectorExpressions.nearestCentroids(e, CentroidScore.Dot, cents, 3),
      VectorExpressions.nearestCentroids(e, CentroidScore.EuclidSim, cents, 3),
      VectorExpressions.nearestCentroids(e, CentroidScore.EuclidDist, cents, 1),
      // vec_id < 500 packs in-range 4-bit sub-codes for ksub = 16
      VectorExpressions.pqAdcScore(e, col("vec_id"), cbs),
      VectorExpressions.quantizeStatsCol(e),
      VectorExpressions.platformLn(abs(element_at(e, 1)) + lit(1.0))): _*)
      .orderBy("vec_id").collect()
    val generated = withSQLConf(CodegenOnly: _*)(kernels())
    val interpreted = withSQLConf(Interpreted: _*)(kernels())
    assert(generated.length == 500)
    generated.zip(interpreted).foreach { case (g, i) => assert(g == i, s"vec_id=${g.getLong(0)}") }
  }

  test("property: cosine ∈ [-1-eps, 1+eps] on fixture pairs") {
    val mm = pairs.agg(
      min(VF.cosine(col("a"), col("b"))), max(VF.cosine(col("a"), col("b"))))
      .collect()(0)
    assert(mm.getDouble(0) >= -1.0 - 1e-9 && mm.getDouble(1) <= 1.0 + 1e-9)
  }

  test("property: cos(v, v) ≈ 1 for non-zero v") {
    val worst = pairs.agg(max(abs(VF.cosine(col("a"), col("a")) - lit(1.0))))
      .collect()(0).getDouble(0)
    assert(worst < 1e-9)
  }

  test("property: normalize is idempotent (within float tolerance)") {
    val worst = pairs.select(
      posexplode(zip_with(
        VF.l2Normalize(VF.l2Normalize(col("a"))), VF.l2Normalize(col("a")),
        (x, y) => abs(x - y))).as(Seq("i", "d")))
      .agg(max("d")).collect()(0).getDouble(0)
    assert(worst < 1e-9)
  }

  test("property: euclidean similarity ∈ (0, 1]") {
    val mm = pairs.agg(
      min(VF.euclideanSimilarity(col("a"), col("b"))),
      max(VF.euclideanSimilarity(col("a"), col("b")))).collect()(0)
    assert(mm.getDouble(0) > 0.0 && mm.getDouble(1) <= 1.0 + 1e-12)
  }

  test("zero vector normalizes to zero vector (eps guard), not NaN") {
    val z = spark.range(1).select(typedLit(Seq(0.0, 0.0, 0.0)).as("v"))
      .select(VF.dot(VF.l2Normalize(col("v")), VF.l2Normalize(col("v"))).as("s"))
      .collect()(0).getDouble(0)
    assert(z == 0.0)
  }

  test("binary kernels raise on unequal lengths instead of folding a prefix") {
    // round-2 advice: a silent common-prefix fold diverged from the HOF
    // spec (which NULLs via zip_with padding); the reference raises on
    // dimension mismatch (storage.py:15-16) — so do the kernels
    val df = spark.range(1).select(
      typedLit(Seq(1.0, 2.0, 3.0, 4.0)).as("a"),
      typedLit(Seq(5.0, 6.0)).as("b"))
    def rootMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    for (kernel <- Seq(
        VF.cosine(col("a"), col("b")),
        VF.dot(col("a"), col("b")),
        VF.euclideanDistance(col("a"), col("b")))) {
      val e = intercept[Exception] { df.select(kernel).collect() }
      assert(rootMessage(e).contains("length mismatch"), rootMessage(e))
    }
  }

  test("null array element raises instead of silently reading 0.0") {
    val df = spark.range(1).select(
      typedLit(Seq[java.lang.Double](1.0, null, 3.0)).as("a"),
      typedLit(Seq[java.lang.Double](1.0, 1.0, 1.0)).as("b"))
    val e = intercept[Exception] {
      df.select(VF.dot(col("a"), col("b"))).collect()
    }
    def rootMessage(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMessage(e).contains("null array element"), rootMessage(e))
  }
}
