package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expressions.VectorExpressions
import graft.functions.Metric
import graft.operators.VectorSearch

/** The r14 fused kernels ([[VectorExpressions.VecSignLshBuckets]],
  * [[VectorExpressions.VecNearestCentroids]]) vs the composed Catalyst
  * forms they replaced — rebuilt here verbatim as the REFERENCE
  * implementation. The fused kernels exist for JIT size, not semantics
  * (the composition generated bands×bits / c inlined score loops in one
  * method, crossed HotSpot's 8 KB huge-method limit past ~4 bands /
  * ~tens of centroids, and ran the hottest ANN loop interpreted —
  * measured 76.3s → sub-second on the sf10 8-band bucket build), so
  * every declared LSH/IVF/PQ row's hash certificate transfers ONLY if
  * the doubles are bit-identical. These tests pin exactly that, on
  * adversarial generated vectors (zeros, denormal scales, mixed signs),
  * real fixture vectors, and the error/null contracts.
  */
class LshKernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Dim = Tables.EmbeddingDim

  /** Pre-r14 composed bucket construction (VectorSearch.scala @ r13):
    * bits× `vec_dot` against literal hyperplanes, CASE sum. */
  private def composedBucketBand(vecCol: Column, dim: Int, bits: Int,
      band: Int): Column =
    (0 until bits).map { j =>
      val proj = VectorExpressions.dot(
        vecCol, VectorSearch.hyperplane(band * bits + j, dim))
      when(proj > lit(0.0), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Pre-r14 composed nearest-centroid struct array (`centroidStructs`):
    * one negated score struct per centroid. */
  private def composedStructs(prepared: Column,
      centroids: Seq[(Long, Seq[Double])], metric: Metric): Column =
    array(centroids.map { case (cid, cvec) =>
      struct(
        negate(metric.scorePrenormalized(prepared, typedlit(cvec))).as("ns"),
        lit(cid).as("cid"))
    }: _*)

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    LazyList.iterate(Seed(seed))(_.next).take(n)
      .flatMap(s => g.apply(Gen.Parameters.default, s)).toList

  private def vecFrame(dim: Int, n: Int, seed: Long): DataFrame = {
    val gen = for {
      mag <- Gen.oneOf(0.0, 1e-12, 1e-3, 1.0, 1e6)
      vs <- Gen.listOfN(dim, Gen.choose(-1.0, 1.0))
    } yield vs.map(_ * mag)
    samples(gen, n, seed).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }.toDF("id", "v")
  }

  /** Collect `df` through generated code only. The optimizer's
    * `ConvertToLocalRelation` is excluded: over a local `toDF` frame it
    * would evaluate the projection on the driver, interpreted, before
    * execution. Fails unless the plan holds a whole-stage codegen stage.
    * The composed reference forms are left to that driver eval, so each
    * fused == composed case compares generated code with interpreted. */
  private def generated(df: => DataFrame): Array[Row] =
    withSQLConf(CodegenOnly :+
        ("spark.sql.optimizer.excludedRules" -> ConvertToLocalRelation.ruleName): _*) {
      val d = df
      val rows = d.collect()
      val plan = d.queryExecution.executedPlan
      assert(collect(plan) { case w: WholeStageCodegenExec => w }.nonEmpty, plan.toString)
      rows
    }

  test("fused sign-LSH buckets == composed per-band CASE-sum form, all bands") {
    for ((dim, bits, bands, seed) <- Seq((8, 4, 3, 11L), (17, 12, 8, 12L),
        (64, 12, 8, 13L), (5, 1, 1, 14L), (3, 20, 2, 15L))) {
      val df = vecFrame(dim, 80, seed)
      val fused = generated(df.select(col("id"),
        VectorExpressions.signLshBuckets(col("v"), dim, bits, bands).as("bk")))
      val composed = df.select(col("id") +: (0 until bands).map(b =>
        composedBucketBand(col("v"), dim, bits, b).as(s"b$b")): _*)
      val f = fused.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val c = composed.collect()
        .map(r => r.getLong(0) -> (1 to bands).map(r.getLong(_))).toMap
      assert(f.keySet == c.keySet)
      f.foreach { case (id, bks) => assert(bks == c(id), s"id=$id") }
    }
  }

  test("fused buckets with bandOffset == composed band at that absolute index") {
    val df = vecFrame(Dim, 60, 21L)
    for (band <- Seq(0, 1, 5, 7)) {
      val f = generated(df.select(col("id"),
        VectorSearch.lshBucketBand(col("v"), Dim, 8, band).as("b")))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val c = df.select(col("id"),
        composedBucketBand(col("v"), Dim, 8, band).as("b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(f == c, s"band=$band")
    }
  }

  test("fused buckets on real fixture vectors (cosine-prepared), interpreted == codegen") {
    val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val prepared = emb.withColumn("embedding",
      Metric.Cosine.prepare(col("embedding")))
    // a new Dataset per call, so each conf below plans its own physical plan
    def fused() = prepared.select(col("vec_id"),
      VectorExpressions.signLshBuckets(col("embedding"), Dim, 12, 8).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val c = prepared.select(col("vec_id") +: (0 until 8).map(b =>
      composedBucketBand(col("embedding"), Dim, 12, b).as(s"b$b")): _*)
    val fm = withSQLConf(CodegenOnly: _*)(fused())
    val cm = c.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong(_))).toMap
    assert(fm == cm)
    // interpreted path (eval) == generated path
    assert(withSQLConf(Interpreted: _*)(fused()) == fm)
  }

  test("fused nearest-centroids == sort_array(composed structs) slice, every metric") {
    val centGen = vecFrame(16, 40, 31L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
    val df = vecFrame(16, 80, 32L)
    for (metric <- Metric.all; n <- Seq(1, 3, 45)) {
      val mode = metric match {
        case Metric.Euclidean => VectorExpressions.CentroidScore.EuclidSim
        case _ => VectorExpressions.CentroidScore.Dot
      }
      val fused = generated(df.select(col("id"),
        VectorExpressions.nearestCentroids(col("v"), mode, centGen, n).as("p")))
      val composed = df.select(col("id"),
        slice(sort_array(composedStructs(col("v"), centGen, metric)), 1,
          n).as("p"))
      val fm = fused.map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getDouble(0), x.getLong(1)))).toMap
      val cm = composed.collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getDouble(0), x.getLong(1)))).toMap
      assert(fm.keySet == cm.keySet)
      fm.foreach { case (id, ps) =>
        assert(ps == cm(id), s"metric=${metric.name} n=$n id=$id") }
    }
  }

  test("fused nearest-centroids EuclidDist == PQ struct-min distance ordering") {
    val s = 8
    val codebook = vecFrame(s, 16, 41L).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
    val df = vecFrame(s, 60, 42L)
    val fused = generated(df.select(col("id"),
      element_at(VectorExpressions.nearestCentroids(col("v"),
        VectorExpressions.CentroidScore.EuclidDist, codebook, 1), 1)
        .getField("cid").as("code")))
    val composed = df.select(col("id"),
      array_min(array(codebook.map { case (code, cvec) =>
        struct(
          VectorExpressions.euclideanDistance(col("v"), typedlit(cvec)).as("d"),
          lit(code).as("code"))
      }: _*)).getField("code").as("code"))
    val fm = fused.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cm = composed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fm == cm)
  }

  /** Pre-r14 composed ADC score (VectorSearch.adcScore @ r13): m ×
    * `vec_dot(slice(q), element_at(literal_codebook, code+1))` terms
    * under a 0.0-seeded left fold, sub-code j from a shift/mask unpack
    * of the packed BIGINT. */
  private def composedAdcScore(queryVec: Column, packed: Column,
      codebooks: Seq[Seq[(Int, Seq[Double])]]): Column = {
    val s = codebooks.head.head._2.length
    val bits = (64 - java.lang.Long.numberOfLeadingZeros(
      (codebooks.head.length - 1).toLong)).toInt
    val mask = (1L << bits) - 1
    codebooks.indices.map { j =>
      val qsub = slice(queryVec, j * s + 1, s)
      val cvecs = typedlit(codebooks(j).map(_._2))
      val code = shiftrightunsigned(packed, bits * j).bitwiseAND(lit(mask))
      VectorExpressions.dot(qsub, element_at(cvecs, (code + 1).cast("int")))
    }.foldLeft(lit(0.0))(_ + _)
  }

  test("fused ADC score == composed slice+dot+element_at fold, ksub 16 and 64") {
    for ((ksub, seed) <- Seq((16, 51L), (64, 52L), (4, 53L))) {
      val m = 8
      val s = 8
      val codebooks = (0 until m).map { j =>
        vecFrame(s, ksub, seed + j).collect()
          .map(r => r.getLong(0).toInt -> r.getSeq[Double](1)).toSeq
          .sortBy(_._1)
      }
      val bits = (64 - java.lang.Long.numberOfLeadingZeros((ksub - 1).toLong)).toInt
      // rows carry a full-dim query vector and a packed code whose
      // sub-codes sweep the whole code range
      val rows = samples(Gen.listOfN(m * s, Gen.choose(-1.0, 1.0)), 60, seed)
        .zipWithIndex.map { case (v, i) =>
          val packed = (0 until m)
            .map(j => ((i * 7 + j * 13) % ksub).toLong << (bits * j))
            .reduce(_ | _)
          (i.toLong, v.toArray, packed)
        }
      val df = rows.toDF("id", "q", "packed")
      val f = generated(df.select(col("id"),
        VectorExpressions.pqAdcScore(col("q"), col("packed"), codebooks)
          .as("sc"))).map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val c = df.select(col("id"),
        composedAdcScore(col("q"), col("packed"), codebooks).as("sc"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(f.keySet == c.keySet)
      f.foreach { case (id, sc) =>
        assert(java.lang.Double.doubleToRawLongBits(sc) ==
          java.lang.Double.doubleToRawLongBits(c(id)),
          s"ksub=$ksub id=$id fused=$sc composed=${c(id)}") }
      // interpreted path == codegen path
      withSQLConf(Interpreted: _*) {
        val fi = df.select(col("id"),
          VectorExpressions.pqAdcScore(col("q"), col("packed"), codebooks)
            .as("sc")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(fi == f, s"ksub=$ksub interpreted != codegen")
      }
    }
  }

  test("ADC error contracts: query length mismatch and out-of-range code raise; null code → null") {
    val codebooks = (0 until 2).map { j =>
      Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0), 2 -> Seq(0.5, 0.5))
    }
    // m=2, s=2 → query must be length 4
    val bad = Seq((1L, Array(1.0, 2.0, 3.0), 0L)).toDF("id", "q", "packed")
    val ex = intercept[Exception] {
      bad.select(VectorExpressions.pqAdcScore(col("q"), col("packed"),
        codebooks)).collect()
    }
    assert(ex.getMessage.contains("length mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("length mismatch"))
    // ksub=3 packs in 2 bits → code 3 is representable but out of range
    val oob = Seq((1L, Array(1.0, 0.0, 0.0, 1.0), 3L)).toDF("id", "q", "packed")
    val exc = intercept[Exception] {
      oob.select(VectorExpressions.pqAdcScore(col("q"), col("packed"),
        codebooks)).collect()
    }
    assert(exc.getMessage.contains("out of range") ||
      exc.getCause != null && exc.getCause.getMessage.contains("out of range"))
    val withNull = Seq((1L, Array(1.0, 0.0, 0.0, 1.0), Option.empty[Long]),
      (2L, Array(1.0, 0.0, 0.0, 1.0), Some(1L))).toDF("id", "q", "packed")
    val out = withNull.select(col("id"),
      VectorExpressions.pqAdcScore(col("q"), col("packed"), codebooks)
        .as("sc")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L).isEmpty && out(2L).nonEmpty)
  }

  test("ADC codebook contract is KEYED: unsorted entries score identically; gaps/dups raise") {
    // pqSearch/ivfPqSearchIndexed are public and take caller-supplied keyed
    // codebooks — order must be immaterial (ADVICE r15)
    val sorted = (0 until 2).map { _ =>
      Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(0.0, 1.0), 2 -> Seq(0.5, 0.5),
        3 -> Seq(0.25, 0.75))
    }
    val shuffled = sorted.map(b => Seq(b(2), b(0), b(3), b(1)))
    val df = Seq((1L, Array(1.0, 2.0, 3.0, 4.0), 9L),
      (2L, Array(-0.5, 0.25, 1.5, -2.0), 14L)).toDF("id", "q", "packed")
    def scores(cbs: Seq[Seq[(Int, Seq[Double])]]) =
      df.select(col("id"), VectorExpressions.pqAdcScore(col("q"), col("packed"),
        cbs).as("sc")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(shuffled) == scores(sorted))
    val gapped = sorted.map(_.map { case (c, v) => (if (c == 2) 7 else c, v) })
    val exg = intercept[IllegalArgumentException] { scores(gapped) }
    assert(exg.getMessage.contains("0..ksub-1"))
    val duped = sorted.map(_.map { case (c, v) => (math.min(c, 2), v) })
    val exd = intercept[IllegalArgumentException] { scores(duped) }
    assert(exd.getMessage.contains("0..ksub-1"))
  }

  test("pqEncode at m = 16 compiles no generated method past HotSpot's 8,000-byte limit") {
    // HotSpot's HugeMethodLimit: a longer method is never JIT-compiled
    // (-XX:+DontCompileHugeMethods is the default) and runs interpreted.
    // It holds only while each fused kernel adds one call to the
    // stage's method, not its loops (MIGRATION, "Fused per-row kernels").
    val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding")
    val cbs = VectorSearch.pqCodebooks(emb, "embedding", "vec_id", 16, 16)
    val enc = VectorSearch.pqEncode(emb, "embedding", "vec_id", cbs)
    assert(enc.count() == emb.count())
    val stages = collect(enc.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty)
    stages.foreach { w =>
      val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
      assert(stats.maxMethodCodeSize < 8000,
        s"largest generated method ${stats.maxMethodCodeSize} bytes")
    }
  }

  test("error contracts: length mismatch raises; null input → null; null element raises") {
    val df = Seq((1L, Array(1.0, 2.0, 3.0))).toDF("id", "v")
    val ex = intercept[Exception] {
      df.select(VectorExpressions.signLshBuckets(col("v"), 8, 4, 2)).collect()
    }
    assert(ex.getMessage.contains("length mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("length mismatch"))
    val exc = intercept[Exception] {
      df.select(VectorExpressions.nearestCentroids(col("v"),
        VectorExpressions.CentroidScore.Dot,
        Seq(0L -> Seq(1.0, 0.0)), 1)).collect()
    }
    assert(exc.getMessage.contains("length mismatch") ||
      exc.getCause != null && exc.getCause.getMessage.contains("length mismatch"))
    // null array → null result (nullIntolerant), matching vec_dot
    val withNull = Seq((1L, Option.empty[Array[Double]]),
      (2L, Some(Array(1.0, 0.0)))).toDF("id", "v")
    val out = withNull.select(col("id"),
      VectorExpressions.signLshBuckets(col("v"), 2, 3, 1).as("b")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    assert(out(1L) == null && out(2L) != null)
  }
}
