package graft

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Metric, VectorFunctions => VF}
import graft.operators.VectorSearch

/** Top-k and knn-join semantics: tie-break determinism, k-clamp
  * (reference api.py:121), empty input (api.py:107-108), self-exclusion,
  * knnJoin == per-query topK agreement, and the constant-query literal
  * path == the broadcast path, bit for bit. */
class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, Sf0001).select("vec_id", "embedding").cache()
  private lazy val qv = Tables.embeddings(spark, Sf0001)
    .filter(col("vec_id") === 0).select(col("embedding").as("qvec"))

  test("tie-break: duplicate vectors rank by id ascending") {
    val dup = Seq(
      (10L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (7L, Seq(1.0, 0.0)),
      (5L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0, 0.0))).toDF("qvec")
    val ids = VectorSearch.topK(dup, "embedding", "vec_id", q, "qvec", Metric.Cosine, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(ids == Seq(2L, 7L, 10L), s"tie-break order was $ids")
  }

  test("k > N clamps to N (reference api.py:121)") {
    val rows = VectorSearch.topK(emb.limit(3), "embedding", "vec_id", qv, "qvec",
      Metric.Dot, 50).count()
    assert(rows == 3)
  }

  test("empty input yields empty result (reference api.py:107-108)") {
    val rows = VectorSearch.topK(emb.filter(lit(false)), "embedding", "vec_id",
      qv, "qvec", Metric.Cosine, 5).count()
    assert(rows == 0)
  }

  private def vectors(ids: Long*): Seq[Seq[Double]] =
    emb.filter(col("vec_id").isin(ids: _*)).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Double](0)).toSeq

  /** The whole corpus ranked against `query`: (id, rank, raw score bits)
    * per row, the output schema, and whether the plan broadcasts. */
  private def ranked(query: DataFrame, metric: Metric) = {
    val top = VectorSearch.topK(emb, "embedding", "vec_id", query, "qvec",
      metric, emb.count().toInt)
    val rows = top.collect().toSeq.zipWithIndex.map { case (r, i) =>
      (r.getAs[Long]("vec_id"), i + 1, doubleToRawLongBits(r.getAs[Double]("score")))
    }
    (rows, top.schema, broadcastNodes(top).nonEmpty)
  }

  test("a constant query scores as a literal, bit for bit the broadcast path, every metric") {
    val Seq(v) = vectors(0L)
    val text = "hello graft"
    val forms: Seq[(String, () => DataFrame)] = Seq(
      "range(1) typedLit" -> (() => spark.range(1).select(typedLit(v).as("qvec"))),
      // a nullable extra column rides along with its nullability
      "one-row toDF" -> (() => Seq((Option(7L), v)).toDF("tag", "qvec")),
      "searchText embedding" -> (() => spark.range(1).select(
        VF.arithmeticEmbedding(lit(text), Tables.EmbeddingDim).as("qvec"))),
      "hashEmbedding" -> (() => spark.range(1).select(
        VF.hashEmbedding(lit(text), Tables.EmbeddingDim).as("qvec"))))
    for (metric <- Metric.all; (name, query) <- forms) {
      val at = s"${metric.name}, $name"
      val (literal, literalSchema, literalBroadcasts) = ranked(query(), metric)
      // a checkpointed frame reads data, so it takes the broadcast path
      val (broadcast, broadcastSchema, broadcasts) =
        ranked(query().localCheckpoint(), metric)
      assert(!literalBroadcasts && broadcasts, at)
      assert(literalSchema == broadcastSchema, at)
      val firstDiff = literal.zip(broadcast).find { case (a, b) => a != b }
      assert(literal.length == broadcast.length && firstDiff.isEmpty, s"$at: $firstDiff")
    }
  }

  test("zero-row, two-row, nondeterministic and streaming query frames keep the cross join") {
    val Seq(v, w) = vectors(0L, 1L)
    for (none <- Seq(spark.range(0).select(typedLit(v).as("qvec")),
        Seq.empty[Tuple1[Seq[Double]]].toDF("qvec")))
      assert(VectorSearch.topK(emb, "embedding", "vec_id", none, "qvec",
        Metric.Cosine, 5).collect().isEmpty)

    // two rows: every corpus row scored against each, as two one-row queries
    def scores(df: DataFrame) = df.select("q", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), doubleToRawLongBits(r.getDouble(2)))).toSet
    val two = VectorSearch.scoreAgainst(emb, "embedding",
      Seq((0L, v), (1L, w)).toDF("q", "qvec"), "qvec", Metric.Cosine)
    val each = Seq(0L -> v, 1L -> w).flatMap { case (q, qv) =>
      scores(VectorSearch.scoreAgainst(emb, "embedding",
        spark.range(1).select(lit(q).as("q"), typedLit(qv).as("qvec")), "qvec", Metric.Cosine))
    }.toSet
    val got = scores(two)
    assert(got.size == each.size && (got diff each).isEmpty, (got diff each).take(3))
    assert(broadcastNodes(two).nonEmpty)

    // a nondeterministic column: broadcast, same ranking as the constant query
    val (noisy, _, noisyBroadcasts) = ranked(
      spark.range(1).select(typedLit(v).as("qvec"), rand(7).as("r")), Metric.Cosine)
    val (constant, _, _) = ranked(spark.range(1).select(typedLit(v).as("qvec")), Metric.Cosine)
    assert(noisyBroadcasts)
    assert(noisy == constant)

    // a stream is never constant: the scored frame is a stream too
    val stream = spark.readStream.format("rate").load().select(typedLit(v).as("qvec"))
    assert(VectorSearch.scoreAgainst(emb, "embedding", stream, "qvec", Metric.Cosine).isStreaming)
  }

  test("knnJoin agrees with per-query topK for a sample query") {
    val joined = VectorSearch.knnJoin(
      emb.filter(col("vec_id") === 7), emb, "embedding", "vec_id",
      Metric.Cosine, k = 5, excludeSelf = true, broadcastData = true)
      .select("neighbor_id").as[Long].collect().toSeq
    val single = VectorSearch.topK(
      emb.filter(col("vec_id") =!= 7), "embedding", "vec_id",
      Tables.embeddings(spark, Sf0001).filter(col("vec_id") === 7)
        .select(col("embedding").as("qvec")),
      "qvec", Metric.Cosine, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(joined == single)
  }

  test("knnJoin excludes self and emits ranks 1..k per query") {
    val out = VectorSearch.knnJoin(emb.limit(20), emb, "embedding", "vec_id",
      Metric.Cosine, k = 5, excludeSelf = true, broadcastData = true)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
    val perQuery = out.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .filter(col("n") =!= 5 || col("lo") =!= 1 || col("hi") =!= 5)
    assert(perQuery.count() == 0)
  }

  /** knnJoin's rows as (query_id, neighbor_id, raw score bits, rank),
    * sorted; a null id or score is None. */
  private def knnRows(df: DataFrame): Seq[(Option[Long], Option[Long], Option[Long], Long)] =
    df.select("query_id", "neighbor_id", "score", "rank").collect().toSeq.map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(s => doubleToRawLongBits(s.asInstanceOf[Double])), r.getLong(3))
    }.sorted

  // ties, nulls and NaN: ids 1-3 share a vector, 4-5 another; 6 has a
  // null vector, 7 a NaN element, the last row a null id. Spread over
  // three partitions, so a query's survivors come from several heaps.
  private lazy val edgeCorpus = Seq(
    (Option(1L), Option(Seq(1.0, 2.0, 0.5))), (Option(2L), Option(Seq(1.0, 2.0, 0.5))),
    (Option(3L), Option(Seq(1.0, 2.0, 0.5))), (Option(4L), Option(Seq(-1.0, 0.5, 2.0))),
    (Option(5L), Option(Seq(-1.0, 0.5, 2.0))), (Option(6L), Option.empty[Seq[Double]]),
    (Option(7L), Option(Seq(Double.NaN, 1.0, 0.0))), (Option(8L), Option(Seq(0.0, 0.0, 0.0))),
    (Option(9L), Option(Seq(0.3, -0.2, 0.9))), (Option(10L), Option(Seq(2.0, 4.0, 1.0))),
    (Option(11L), Option(Seq(0.0, -1.0, 0.0))), (Option.empty[Long], Option(Seq(1.0, 1.0, 1.0))))
    .toDF("vec_id", "embedding").repartition(3).cache()
  // duplicate query id 2 (two vectors), a null query vector (6), a NaN
  // query (7) and a null query id
  private lazy val edgeQueries = Seq(
    (Option(2L), Option(Seq(1.0, 2.0, 0.5))), (Option(2L), Option(Seq(0.3, -0.2, 0.9))),
    (Option(4L), Option(Seq(-1.0, 0.5, 2.0))), (Option(6L), Option.empty[Seq[Double]]),
    (Option(7L), Option(Seq(Double.NaN, 1.0, 0.0))), (Option(9L), Option(Seq(1.0, 0.0, 0.0))),
    (Option.empty[Long], Option(Seq(0.5, 0.5, 0.5)))).toDF("vec_id", "embedding")

  test("knnJoin with broadcast queries equals the pair form row for row, scores bit for bit") {
    assert(edgeCorpus.rdd.getNumPartitions == 3)
    for (metric <- Metric.all; k <- Seq(1, 5, 50); excludeSelf <- Seq(true, false)) {
      val at = s"${metric.name}, k=$k, excludeSelf=$excludeSelf"
      def join(broadcastQueries: Boolean) = VectorSearch.knnJoin(edgeQueries, edgeCorpus,
        "embedding", "vec_id", metric, k, excludeSelf, broadcastQueries = broadcastQueries)
      val (block, pairs) = (join(true), join(false))
      assert(block.schema == pairs.schema, at)
      val (got, want) = (knnRows(block), knnRows(pairs))
      assert(got == want, s"$at: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    }
    // the fixture corpus, in its own partitions
    val sample = emb.filter(col("vec_id") % 25 === 0)
    for (metric <- Metric.all) {
      def join(broadcastQueries: Boolean) = VectorSearch.knnJoin(sample, emb, "embedding",
        "vec_id", metric, k = 10, broadcastQueries = broadcastQueries)
      assert(knnRows(join(true)) == knnRows(join(false)), metric.name)
    }
  }

  test("knnJoin with broadcast queries raises the pair form's length-mismatch error") {
    val short = Seq((100L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    def rootMessage(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: IllegalArgumentException => a.getMessage }.getOrElse(e.toString)
    for (metric <- Metric.all) {
      def raised(broadcastQueries: Boolean) = rootMessage(intercept[Exception](
        VectorSearch.knnJoin(edgeQueries.filter(col("vec_id") === 4), edgeCorpus.unionByName(short),
          "embedding", "vec_id", metric, k = 3, broadcastQueries = broadcastQueries).collect()))
      val (block, pairs) = (raised(true), raised(false))
      assert(block == pairs && block.contains("array length mismatch (3 vs 2)"), metric.name)
    }
  }

  test("semanticDedup matches a sequential cluster-then-prune model") {
    val tau = 0.3
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val got = VectorSearch.semanticDedup(emb, "embedding", "vec_id",
      Metric.Cosine, tau = tau, centroids = Some(cents))
      .select("vec_id", "centroid_id", "keep")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)

    // sequential model over the same vectors and centroids
    def norm(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum) + 1e-12
      v.map(_ / n)
    }
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> norm(r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val cn = cents.map { case (cid, cv) => cid -> cv }
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val assigned = vecs.map { case (id, v) =>
      val best = cn.map { case (cid, cv) => (-dot(v, cv), cid) }.min
      (id, best._2, v)
    }
    val expected = assigned.map { case (id, cid, v) =>
      val lower = assigned.filter(o => o._2 == cid && o._1 < id)
      val keep = lower.isEmpty ||
        lower.map(o => dot(v, o._3)).max <= tau + 1e-9
      (id, cid, keep)
    }
    // FP tolerance only matters AT the threshold; no fixture value sits
    // within 1e-9 of tau, so the boolean sets must agree exactly
    assert(got.map(t => (t._1, t._2)) == expected.map(t => (t._1, t._2)))
    assert(got.map(_._3) == expected.map(_._3))
    assert(got.count(!_._3) > 0, "tau should actually drop something")
    assert(got.count(_._3) > 0, "tau should actually keep something")
  }

  test("semanticDedup emits one row per input and null sim for cluster minima") {
    val out = VectorSearch.semanticDedup(emb, "embedding", "vec_id",
      Metric.Cosine, tau = 0.3)
    assert(out.count() == emb.count())
    // per cluster: exactly one null-sim row, and it is the min id
    val mins = out.groupBy("centroid_id")
      .agg(min("vec_id").as("min_id"),
        sum(when(col("max_lower_sim").isNull, 1).otherwise(0)).as("n_null"))
    assert(mins.filter(col("n_null") =!= 1).count() == 0)
    val nullRows = out.filter(col("max_lower_sim").isNull)
      .join(mins, "centroid_id")
      .filter(col("vec_id") =!= col("min_id"))
    assert(nullRows.count() == 0)
    // null-sim rows are always kept
    assert(out.filter(col("max_lower_sim").isNull && !col("keep")).count() == 0)
  }

  test("similarity histogram: one pair per non-self-colliding vector, buckets in [-10, 10]") {
    val rows = Queries.queries("q_sim_histogram")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    assert(rows.forall { case (b, _) => b >= -10 && b <= 10 })
    // each vector contributes exactly one pair unless its hash partner
    // is itself; cosine of near-uniform random vectors concentrates
    // near 0, so the histogram must be non-degenerate (>1 bucket)
    val n = Tables.embeddings(spark, Sf0001).count()
    val total = rows.map(_._2).sum
    assert(total <= n && total >= n - 5, s"pair total $total vs corpus $n")
    assert(rows.length > 1)
  }

  test("clusterMaxSim matches a sequential within-cluster max model") {
    import graft.functions.VectorFunctions
    val cents = VectorSearch.ivfCentroids(emb, "embedding", "vec_id", 16, Metric.Cosine)
    val probe = emb.filter(col("vec_id") % 5 === 0)
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val got = VectorSearch.clusterMaxSim(probe, corpus, "embedding", "vec_id",
      Metric.Cosine, cents)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // sequential model over collected normalized vectors
    val norm = emb.select(col("vec_id"),
      VectorFunctions.l2Normalize(col("embedding")).as("nv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    val cvecs = cents.map { case (cid, v) => cid -> v.toArray }
    def assign(v: Array[Double]) =
      cvecs.map { case (cid, cv) => (-dot(v, cv), cid) }.min._2
    val corpusByCluster = norm.filter(_._1 % 5 != 0)
      .groupBy { case (_, v) => assign(v) }
    assert(got.nonEmpty && got.keySet == norm.keySet.filter(_ % 5 == 0))
    got.foreach { case (id, (cid, sim)) =>
      assert(cid == assign(norm(id)), s"probe $id cluster")
      val mates = corpusByCluster.getOrElse(cid, Map.empty)
      val expect = if (mates.isEmpty) None
        else Some(mates.values.map(v => dot(norm(id), v)).max)
      (sim, expect) match {
        case (Some(s), Some(e)) => assert(math.abs(s - e) < 1e-12, s"probe $id")
        case (None, None)       =>
        case other              => fail(s"probe $id: $other")
      }
    }
  }
}
