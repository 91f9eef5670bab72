package graft.operators

import java.util.{Comparator, PriorityQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, Expression, JoinedRow, KnownNullable, Literal, MutableProjection, Predicate, RowOrdering, SpecificInternalRow, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation, Project, Range, Sort}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{ColumnGlue, PlanGlue}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.expressions.VectorExpressions
import graft.functions.Metric

/** Similarity search operators — the Spark-native form of the reference's
  * `search_vector` / `search_text` (api.py:105-168) and the batch
  * replacement for its HNSW ANN path (ann.py, dropped per BASELINE.json).
  *
  * Scale design:
  *  - [[topK]] plans as `TakeOrderedAndProject`: each partition keeps a
  *    local top-k, the driver merges k·numPartitions rows — no full sort,
  *    no full shuffle. This is the distributed analog of the reference's
  *    `np.argsort(-scores)[:k]` (api.py:139).
  *  - All score kernels are codegen Catalyst expressions
  *    ([[graft.expressions.VectorExpressions]]); for cosine each side is
  *    L2-normalized ONCE per row (O(N·dim)) before the pairwise stage
  *    (O(N·M·dim)) — the norm never recomputes inside the pair loop, and
  *    the single-expression kernel cannot be torn apart by
  *    `CollapseProject` (the round-1 O(dim²) defect).
  *  - A constant single query ([[scoreAgainst]]) is a literal in the
  *    corpus projection: one job per search, nothing broadcast.
  *  - [[knnJoin]] does NOT broadcast by default: at 100 TB the data side
  *    does not fit an executor. Pass `broadcastData = true` only when the
  *    data side is a known-small dimension table; otherwise use
  *    [[bucketedKnnJoin]], which shuffles both sides by a deterministic
  *    LSH bucket id — per-bucket equi-join instead of all-pairs.
  *  - A bounded query sample against the whole corpus
  *    (`knnJoin(broadcastQueries = true)`) builds no pair rows: the
  *    query side is collected when `knnJoin` is called, and one pass
  *    over each corpus partition keeps a k-bounded heap per query, so
  *    the rank window sees k rows per query per corpus partition, not
  *    every pair.
  *
  * Determinism: every ordering tie-breaks on the id column
  * (SURVEY §2.4.2) — argsort on equal scores is arbitrary in the
  * reference too.
  */
object VectorSearch {

  /** Append a `score` column: every row of `data` scored against the single
    * row of `query` (its columns ride along, `queryVecCol` dropped). A
    * constant 1-row query is evaluated on the driver and scored as a
    * literal; any other query frame is broadcast. The literal form scores
    * inside the corpus scan in one job; the broadcast form runs a job for
    * the broadcast first. Both sides are metric-prepared (cosine →
    * L2-normalized) once, outside the pair loop, by the same kernel body on
    * the driver and in the generated code, so both forms give the same
    * scores bit for bit. A cosine data side is scored from its normalized
    * vector under a private column, so `vecCol` passes through as stored.
    */
  def scoreAgainst(
      data: DataFrame,
      vecCol: String,
      query: DataFrame,
      queryVecCol: String,
      metric: Metric): DataFrame = {
    val (prepared, dataVec) = metric match {
      case Metric.Cosine => (data.withColumn("__svec", metric.prepare(col(vecCol))), "__svec")
      case _ => (data, vecCol)
    }
    val preparedQ = prepareColumn(query, queryVecCol, metric)
    val withQuery = constantRow(preparedQ) match {
      case Some(literals) => prepared.select(col("*") +: literals: _*)
      case None => prepared.crossJoin(broadcast(preparedQ))
    }
    withQuery
      .withColumn("score",
        metric.scorePrenormalized(col(dataVec), col(queryVecCol)))
      .drop("__svec", queryVecCol)
  }

  /** The one row of a constant query frame as literal columns, each under
    * its own name, data type and nullability. Constant means the optimized
    * plan is a projection of deterministic, reference-free, evaluable
    * expressions over `OneRowRelation` or a one-element `Range`, or a
    * one-row `LocalRelation`; any other frame (no rows, several rows, a
    * nondeterministic expression, a read of data, a stream) gives None.
    * This is a test of plan shape, not of size. */
  private def constantRow(query: DataFrame): Option[Seq[Column]] = {
    def constant(e: Expression): Boolean =
      e.deterministic && e.references.isEmpty && !e.exists(_.isInstanceOf[Unevaluable])
    def oneRow(p: LogicalPlan): Boolean = p match {
      case _: OneRowRelation => true
      case r: Range => r.numElements == 1
      case _ => false
    }
    // only a batch plan can be optimized outside a streaming query
    val values = if (query.isStreaming) None else query.queryExecution.optimizedPlan match {
      case Project(exprs, child) if oneRow(child) && exprs.forall(constant) =>
        Some(exprs.map(_.eval(InternalRow.empty)))
      case l: LocalRelation if l.data.size == 1 =>
        Some(l.output.zipWithIndex.map { case (a, i) => l.data.head.get(i, a.dataType) })
      case _ => None
    }
    values.map(_.zip(query.schema).map { case (v, f) =>
      val literal = Literal(InternalRow.copyValue(v), f.dataType)
      ColumnGlue.column(if (f.nullable) KnownNullable(literal) else literal).as(f.name)
    })
  }

  /** Replace `vecCol` with its metric-prepared form. For cosine this is the
    * codegen [[VectorExpressions.VecL2Normalize]] kernel — one expression,
    * norm evaluated once per row, immune to projection collapsing. */
  private def prepareColumn(df: DataFrame, vecCol: String, metric: Metric): DataFrame =
    metric match {
      case Metric.Cosine => df.withColumn(vecCol, metric.prepare(col(vecCol)))
      case _ => df
    }

  /** One side of a pair join: the metric-prepared `vecCol` and `idCol`
    * projected as (`idAlias`, `vecAlias`), plus any `extra` columns
    * computed in the same projection. */
  private def side(df: DataFrame, vecCol: String, idCol: String, metric: Metric,
      idAlias: String, vecAlias: String, extra: Column*): DataFrame =
    prepareColumn(df, vecCol, metric)
      .select(Seq(col(idCol).as(idAlias), col(vecCol).as(vecAlias)) ++ extra: _*)

  /** Shared tail of the single-query searches: the `k` best-scored rows,
    * ties broken on `idCol` — plans as `TakeOrderedAndProject`. */
  private def topRows(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.orderBy(desc("score"), col(idCol).asc).limit(k)

  /** Top-k rows of `data` most similar to the 1-row `query` frame.
    * `orderBy(desc(score), id).limit(k)` → `TakeOrderedAndProject`.
    * k > N clamps naturally (reference api.py:121); empty input → empty
    * result (reference api.py:107-108). */
  def topK(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      query: DataFrame,
      queryVecCol: String,
      metric: Metric,
      k: Int): DataFrame =
    topRows(scoreAgainst(data, vecCol, query, queryVecCol, metric), idCol, k)

  /** Batch knn: for every row of `queries`, its top-k neighbors in `data`
    * (the at-scale form of per-query search; replaces the reference's HNSW
    * serving path ann.py:67-102). Output: one row per (query, neighbor)
    * with `rank` (BIGINT, 1-based).
    *
    * Scale, by orientation:
    *  - default: a shuffling cartesian of the two prepared sides, scored
    *    per pair and ranked by the [[rankTopK]] window; AQE decides the
    *    join. At real scale prefer [[bucketedKnnJoin]].
    *  - `broadcastData = true`: the pair stage is a broadcast nested loop
    *    with NO shuffle of the (large) query side — right when data is a
    *    small dimension table.
    *  - `broadcastQueries = true` (wins over `broadcastData`): the
    *    sample×corpus eval shape (recall rows — a bounded query sample vs
    *    the full corpus). The prepared query side is COLLECTED on the
    *    driver when `knnJoin` is called (one job, then; a query-side error
    *    raises here) and broadcast; the corpus is scanned and prepared
    *    once, and no pair row is built — [[queryBlockTopK]] keeps a
    *    k-bounded heap per query row in each corpus partition, so the
    *    window ranks at most k × (corpus partitions) rows per query row.
    *    At 100 TB this is the only orientation that never moves or
    *    re-reads the corpus. `queries` must be a batch frame.
    */
  def knnJoin(
      queries: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      k: Int,
      excludeSelf: Boolean = true,
      broadcastData: Boolean = false,
      broadcastQueries: Boolean = false): DataFrame =
    if (broadcastQueries)
      rankTopK(queryBlockTopK(
        side(queries, vecCol, idCol, metric, "query_id", "__qvec"),
        side(data, vecCol, idCol, metric, "neighbor_id", "__dvec"),
        metric, k, excludeSelf), k)
    else {
      // The O(N·M) pair work parallelizes over the streamed (query)
      // side's partitions; a small/single-file query table would
      // otherwise pin the whole join to a handful of tasks.
      val q = side(Partitioning.spread(queries), vecCol, idCol, metric, "query_id", "__qvec")
      val d = side(data, vecCol, idCol, metric, "neighbor_id", "__dvec")
      val dSide = if (broadcastData) broadcast(d) else d
      rankTopK(scorePairs(q.crossJoin(dSide), metric, excludeSelf), k)
    }

  /** The rank order of every knn join: best score first (null last, NaN
    * above every number, -0.0 equal to 0.0 — Spark's ordering), ties to
    * the lower neighbor id. [[rankTopK]]'s window and
    * [[queryBlockTopK]]'s heaps both order by it. */
  private val RankOrder: Seq[Column] = Seq(desc("score"), asc("neighbor_id"))

  /** The self-pair test of [[dropSelf]]: null unless both ids are
    * non-null, so a filter on it also drops null ids. */
  private val NotSelf: Column = col("query_id") =!= col("neighbor_id")

  /** Drop the `query_id == neighbor_id` pairs when `excludeSelf`. */
  private def dropSelf(pairs: DataFrame, excludeSelf: Boolean): DataFrame =
    if (excludeSelf) pairs.filter(NotSelf) else pairs

  /** The score of a (`__qvec`, `__dvec`) pair. */
  private def pairScore(metric: Metric): Column =
    metric.scorePrenormalized(col("__qvec"), col("__dvec"))

  /** The `score` of each pair row, then optional self-exclusion. */
  private def scorePairs(pairs: DataFrame, metric: Metric, excludeSelf: Boolean): DataFrame =
    dropSelf(pairs.withColumn("score", pairScore(metric)), excludeSelf)

  /** Shared tail of the knn joins: over scored (`query_id`,
    * `neighbor_id`, `score`) rows — every pair, or only
    * [[queryBlockTopK]]'s survivors — a per-query `row_number` window in
    * [[RankOrder]], the rank filter and the scalar projection. Spark plans
    * it as a sort, a partial `WindowGroupLimit` ahead of the exchange on
    * `query_id`, a second sort and the final window. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(RankOrder: _*)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** The first `k` (`query_id`, `neighbor_id`, `score`) rows in
    * [[RankOrder]] of every (query row, corpus partition), without pair
    * rows: `q` (`query_id`, `__qvec`) is collected and broadcast now, and
    * one typed `mapPartitions` pass over `d` (`neighbor_id`, `__dvec`)
    * scores each corpus row against the whole query block into a
    * k-bounded heap per query row, emitting the heaps at the end of the
    * partition. The pass stays in the logical plan, so the corpus scan
    * stays visible to the optimizer and to plan records.
    *
    * Each pair goes through [[dropSelf]]'s predicate (when `excludeSelf`)
    * and then [[pairScore]] — the same Catalyst expressions the pair form
    * evaluates, bound once to (query row ++ corpus row) — so scores and
    * errors are those of the pair form. The heaps compare with Spark's
    * ordering for [[RankOrder]].
    *
    * Exact: a pair in a query's final top-k is also among the first k of
    * its (query row, corpus partition) subset under the same total
    * order, and pairs that compare equal are equal in every output
    * column. Duplicate or null query ids merge in [[rankTopK]]'s window
    * as in the pair form. Memory per task: k heap entries per query row. */
  private def queryBlockTopK(q: DataFrame, d: DataFrame, metric: Metric, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val spark = d.sparkSession
    val pairAttrs = LocalRelation(StructType(q.schema ++ d.schema)).output
    val Seq(keep, score) = resolved(spark, pairAttrs, NotSelf, pairScore(metric))
    // heap key rows: (score, neighbor_id), ordered as the window orders
    val (scoreField, idField) = (StructField("score", DoubleType, score.nullable), d.schema("neighbor_id"))
    val keyAttrs = LocalRelation(StructType(Seq(scoreField, idField))).output
    val order = PlanGlue.ofRows(spark, LocalRelation(keyAttrs))
      .sortWithinPartitions(RankOrder: _*).queryExecution.analyzed match {
        case s: Sort => s.order
      }
    val toQueryRow = ExpressionEncoder(q.schema).createSerializer()
    val block = spark.sparkContext.broadcast(
      q.collect().map(r => (r.get(0), toQueryRow(r).copy())))
    val corpusEncoder = ExpressionEncoder(d.schema)
    val out = StructType(Seq(q.schema("query_id"), idField, scoreField))
    val heapsOf: Iterator[Row] => Iterator[Row] = { rows =>
      val queries = block.value
      if (queries.isEmpty || k <= 0) Iterator.empty
      else {
        val toRow = corpusEncoder.createSerializer()
        val notSelf = Predicate.create(keep)
        val ord = RowOrdering.create(order, keyAttrs)
        val key = new SpecificInternalRow(keyAttrs.map(_.dataType))
        val scoreInto = MutableProjection.create(Seq(score)).target(key)
        // each heap's head is its worst kept entry: (key copy, neighbor id)
        val worstFirst: Comparator[(InternalRow, Any)] = (a, b) => ord.compare(b._1, a._1)
        val heaps = Array.fill(queries.length)(new PriorityQueue(worstFirst))
        val pair = new JoinedRow
        rows.foreach { r =>
          val row = toRow(r)
          key.update(1, InternalRow.copyValue(row.get(0, idField.dataType)))
          pair.withRight(row)
          var i = 0
          while (i < queries.length) {
            pair.withLeft(queries(i)._2)
            if (!excludeSelf || notSelf.eval(pair)) {
              scoreInto(pair)
              val heap = heaps(i)
              if (heap.size < k) heap.add((key.copy(), r.get(0)))
              else if (ord.compare(key, heap.peek._1) < 0) {
                heap.poll()
                heap.add((key.copy(), r.get(0)))
              }
            }
            i += 1
          }
        }
        queries.indices.iterator.flatMap { i =>
          heaps(i).iterator.asScala.map { case (kept, id) =>
            Row(queries(i)._1, id, kept.get(0, DoubleType))
          }
        }
      }
    }
    d.mapPartitions(heapsOf)(Encoders.row(out))
  }

  /** `cols` resolved over a relation of `attrs`, bound to their ordinals. */
  private def resolved(spark: SparkSession, attrs: Seq[Attribute],
      cols: Column*): Seq[Expression] =
    PlanGlue.ofRows(spark, LocalRelation(attrs)).select(cols: _*)
      .queryExecution.analyzed.asInstanceOf[Project].projectList.map(e =>
        BindReferences.bindReference(e.asInstanceOf[Alias].child, attrs))

  /** Deterministic hyperplane `j` (0-based) of width `dim`, as an array
    * literal: `h[j][i] = (((i+1)·(j+1)·7919) mod 193) / 193.0 − 0.5`.
    * Fixed pseudo-random-looking weights computable identically in any
    * SQL engine (no RNG, SURVEY §2.4) — so an oracle can replay the
    * bucketing exactly. */
  def hyperplane(j: Int, dim: Int): Column =
    array((0 until dim).map { i =>
      lit((((i + 1).toLong * (j + 1) * 7919L) % 193L).toDouble / 193.0 - 0.5)
    }: _*)

  /** Deterministic random projection (Johnson–Lindenstrauss style) to
    * `outDim` dimensions: component j is the codegen dot of the vector
    * with arithmetic [[hyperplane]] j — the cheap pre-ANN compression
    * step of a 100 TB embedding pipeline (O(dim·outDim) per row, pure
    * projection, no shuffle), sharing its plane family with the LSH
    * bucketing so an oracle replays it exactly. */
  def randomProjection(vec: Column, dim: Int, outDim: Int): Column =
    array((0 until outDim).map(j =>
      VectorExpressions.dot(vec, hyperplane(j, dim))): _*)

  /** Deterministic sign-LSH bucket id over `bits` arithmetic hyperplanes:
    * `bucket = Σ_j 2^j · [v·h_j > 0]`. Since r14 this is the fused
    * [[VectorExpressions.VecSignLshBuckets]] kernel — one loop body
    * over a precomputed plane matrix, bit-identical to the per-plane
    * `vec_dot`-against-literal composition (LshKernelSpec pins it) but
    * immune to the HotSpot huge-method cliff the composition hit past ~4
    * bands (see the kernel's scaladoc for the sf10 measurement). */
  def lshBucket(vecCol: Column, dim: Int, bits: Int): Column =
    lshBucketBand(vecCol, dim, bits, band = 0)

  /** Band `band`'s sign-LSH bucket: the same construction as
    * [[lshBucket]] but over that band's own hyperplane family (planes
    * `band·bits … band·bits+bits−1`), so the bands are independent hash
    * tables. Band 0 reproduces the single-band bucketing exactly. */
  def lshBucketBand(vecCol: Column, dim: Int, bits: Int, band: Int): Column =
    element_at(
      VectorExpressions.signLshBuckets(vecCol, dim, bits, bands = 1,
        bandOffset = band), 1)

  // ------------------------------------------------------------------ IVF ---

  /** Deterministic IVF coarse centroids: the metric-prepared vectors of
    * the first `c` ids (a real pipeline would k-means; a deterministic
    * sample keeps the index oracle-replayable — same trade as the
    * arithmetic LSH hyperplanes). This is the index-BUILD step: it
    * collects exactly `c` rows (c ≈ √N at scale — a dimension table,
    * not data). */
  def ivfCentroids(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      c: Int,
      metric: Metric): Seq[(Long, Seq[Double])] =
    prepareColumn(data, vecCol, metric)
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(idCol)
      .limit(c)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .toSeq

  /** Lloyd (k-means) refinement of IVF centroids: assign every vector to
    * its nearest centroid, recompute each centroid as the elementwise
    * mean of its members (distributed: posexplode → per-(cid, pos) avg →
    * re-assembled), for cosine re-normalized (spherical k-means). Empty
    * clusters drop out. The double means are partition-order-dependent
    * in their last bits, so refined centroids are for index QUALITY —
    * the oracle-checked query keeps the deterministic first-c centroids.
    * Each iteration is two jobs: one distributed mean, one c-row
    * collect. */
  def ivfRefineCentroids(
      data: DataFrame,
      vecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      metric: Metric,
      iters: Int = 1): Seq[(Long, Seq[Double])] = {
    var cents = centroids
    val prepared = prepareColumn(data, vecCol, metric)
    for (_ <- 0 until iters) {
      val means = prepared
        .withColumn("cid", ivfAssign(col(vecCol), cents, metric))
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(avg("v").as("m"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("sv"))
        .select(col("cid"),
          metric.prepare(transform(col("sv"), x => x.getField("m"))).as("vec"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1))
        .toSeq
        .sortBy(_._1)
      cents = means
    }
    cents
  }

  /** Mean similarity of every vector to its assigned centroid — the
    * (spherical) k-means objective; [[ivfRefineCentroids]] must not
    * decrease it. */
  def ivfObjective(
      data: DataFrame,
      vecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      metric: Metric): Double = {
    val prepared = prepareColumn(data, vecCol, metric)
    prepared
      .select(element_at(probeStructs(col(vecCol), centroids, metric, 1), 1)
        .getField("ns").as("ns"))
      .agg(avg(negate(col("ns"))))
      .collect()(0).getDouble(0)
  }

  /** [[VectorExpressions.CentroidScore]] mode replaying
    * `negate(metric.scorePrenormalized(v, c))` for each metric. */
  private def centroidScoreMode(metric: Metric): String = metric match {
    case Metric.Euclidean => VectorExpressions.CentroidScore.EuclidSim
    case _ => VectorExpressions.CentroidScore.Dot
  }

  /** The `nProbes` nearest (−score, centroid_id) structs for a prepared
    * vector, ascending — ONE fused codegen kernel
    * ([[VectorExpressions.VecNearestCentroids]]): NO shuffle, NO window,
    * and (unlike the pre-r14 `array_min`/`sort_array` over c inlined
    * score kernels) one small JIT-able loop at ANY cell count — the
    * composed form crossed HotSpot's 8 KB huge-method limit at the
    * self-sizing operating points (c = 512 at sf10) and ran the per-row
    * assign in the bytecode interpreter (see VecSignLshBuckets scaladoc
    * for the measurement). */
  private def probeStructs(
      prepared: Column,
      centroids: Seq[(Long, Seq[Double])],
      metric: Metric,
      nProbes: Int): Column =
    VectorExpressions.nearestCentroids(
      prepared, centroidScoreMode(metric), centroids, nProbes)

  /** Nearest-centroid id for a prepared vector column. */
  def ivfAssign(
      prepared: Column,
      centroids: Seq[(Long, Seq[Double])],
      metric: Metric): Column =
    element_at(probeStructs(prepared, centroids, metric, 1), 1).getField("cid")

  /** Approximate knn join via IVF — the second scale path next to
    * [[bucketedKnnJoin]]: data rows live in exactly one centroid bucket;
    * each query probes its `nProbes` nearest buckets (multi-probe buys
    * recall at linear candidate cost). The bucket equi-join shuffles by
    * centroid id; candidates per query ≈ nProbes·N/c. */
  def ivfKnnJoin(
      queries: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      k: Int,
      c: Int = 16,
      nProbes: Int = 2,
      excludeSelf: Boolean = true,
      centroids: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(data, vecCol, idCol, c, metric))
    val d = side(data, vecCol, idCol, metric, "neighbor_id", "__dvec")
      .withColumn("centroid_id", ivfAssign(col("__dvec"), cents, metric))
    val q = side(Partitioning.spread(queries), vecCol, idCol, metric, "query_id", "__qvec")
      .withColumn("probe",
        explode(probeStructs(col("__qvec"), cents, metric, nProbes)))
      .withColumn("centroid_id", col("probe.cid"))
      .drop("probe")
    rankTopK(scorePairs(q.join(d, Seq("centroid_id")), metric, excludeSelf), k)
  }

  // -------------------------------------------------- product quantization ---

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector space splits
    * into `m` subspaces of `dim/m` dims; each subspace gets `ksub`
    * centroids, and a vector compresses to `m` small codes — at
    * m=8, ksub=16 a 64-dim double vector (512 bytes) becomes one packed
    * 32-bit code, the layout FAISS-style IVFPQ serves billions with.
    *
    * Centroids are the subvectors of the first `ksub` rows by id over
    * the metric-prepared (cosine: L2-normalized) vectors — the same
    * deterministic first-c rule as [[ivfCentroids]], so the whole PQ
    * path replays in the SQL oracle. Returns, per subspace j, the
    * (code, subvector) list with codes 0..ksub−1 in id order. */
  def pqCodebooks(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int = 8,
      ksub: Int = 16,
      metric: Metric = Metric.Cosine): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = prepareColumn(data, vecCol, metric)
      .orderBy(idCol).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Double](0).toIndexedSeq)
    val dim = rows.headOption.map(_.length)
      .getOrElse(throw new IllegalArgumentException("pqCodebooks: empty input"))
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m=$m")
    val s = dim / m
    (0 until m).map { j =>
      rows.toSeq.zipWithIndex.map { case (v, code) =>
        code -> v.slice(j * s, (j + 1) * s).toSeq
      }
    }
  }

  /** Per-subspace code assignment columns `__code_0..__code_{m-1}` for a
    * metric-prepared vector column: argmin L2 distance to the subspace's
    * centroids, ties → lowest code (the [[ivfAssign]] pattern, raw
    * distance ordering — [[VectorExpressions.CentroidScore.EuclidDist]]
    * replays the old struct-min over `vec_euclidean_distance` exactly).
    * Pure per-row projection over ONE fused kernel per subspace — zero
    * shuffle, the index build of the PQ path, JIT-able at any ksub
    * (the composed struct-min inlined ksub distance loops per subspace
    * and crossed the huge-method limit at the scaled ksub=64 point). */
  private def pqCodeColumns(
      vec: Column, codebooks: Seq[Seq[(Int, Seq[Double])]]): Seq[Column] = {
    val m = codebooks.length
    val s = codebooks.head.head._2.length
    (0 until m).map { j =>
      val sub = slice(vec, j * s + 1, s)
      element_at(
        VectorExpressions.nearestCentroids(sub,
          VectorExpressions.CentroidScore.EuclidDist,
          codebooks(j).map { case (code, cvec) => (code.toLong, cvec) },
          n = 1), 1).getField("cid")
    }
  }

  /** Bits per packed sub-code for a codebook set (4 at ksub=16) —
    * delegates to [[VectorExpressions.packedCodeBits]], the ONE
    * definition of the packed layout shared with the unpack side. */
  private def pqCodeBits(codebooks: Seq[Seq[(Int, Seq[Double])]]): Int =
    VectorExpressions.packedCodeBits(codebooks.head.length)

  /** Sub-code columns `codes` (code j first) packed into ONE BIGINT:
    * code_j in bits 4j..4j+3 at ksub=16. */
  private def packCodes(
      codes: Seq[Column], codebooks: Seq[Seq[(Int, Seq[Double])]]): Column = {
    val bits = pqCodeBits(codebooks)
    codes.zipWithIndex
      .map { case (c, j) => shiftleft(c, bits * j) }
      .reduceLeft(_.bitwiseOR(_))
  }

  /** All m sub-codes of a metric-prepared vector column, packed. */
  private def pqPackedCode(
      vec: Column, codebooks: Seq[Seq[(Int, Seq[Double])]]): Column =
    packCodes(pqCodeColumns(vec, codebooks), codebooks)

  /** PQ-encode: `(idCol, pq_code)` with all m codes packed into ONE
    * BIGINT — the persistable index-as-data table ([[lshBucketTable]]
    * analog): serving scans 8-byte codes, never vectors. */
  def pqEncode(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      metric: Metric = Metric.Cosine): DataFrame =
    prepareColumn(data, vecCol, metric)
      .select(col(idCol), pqPackedCode(col(vecCol), codebooks).as("pq_code"))

  /** The full FAISS-IVFPQ index layout as ONE persistable table:
    * `(idCol, centroid_id, pq_code)` — coarse cell from [[ivfAssign]],
    * packed sub-codes from [[pqEncode]]. Written `partitionBy
    * ("centroid_id")`, a probe equi-join prunes unprobed cells to zero
    * IO, and each scanned row is 16 bytes, never the vector. The
    * 128-kernels-per-row encode runs HERE, once at build time — serving
    * ([[ivfPqSearchIndexed]]) only unpacks bits. */
  def ivfPqIndexTable(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      metric: Metric = Metric.Cosine): DataFrame =
    prepareColumn(data, vecCol, metric)
      .select(col(idCol),
        ivfAssign(col(vecCol), centroids, metric).as("centroid_id"),
        pqPackedCode(col(vecCol), codebooks).as("pq_code"))

  /** ADC top-k over a persisted [[ivfPqIndexTable]]: routes the query to
    * its `nProbes` nearest cells, equi-joins the broadcast probe frame
    * against the code table, unpacks each sub-code with shift/mask (two
    * integer ops — no kernel re-evaluation), and scores with the same
    * fixed-order ADC fold as [[pqSearch]]: restricted to the probed
    * cells' rows, [[pqSearch]] ranks bit-identically (LshSpec pins it);
    * the scan side touches only `(id, centroid_id, pq_code)`. */
  def ivfPqSearchIndexed(
      index: DataFrame,
      idCol: String,
      query: DataFrame,
      queryVecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      nProbes: Int,
      k: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    val q = prepareColumn(query, queryVecCol, metric)
      .withColumn("probe",
        explode(probeStructs(col(queryVecCol), centroids, metric, nProbes)))
      .select(col(queryVecCol), col("probe.cid").as("centroid_id"))
    // persisted codes are already packed — feed the fused ADC kernel
    // directly, no unpack/repack round-trip
    val score =
      VectorExpressions.pqAdcScore(col(queryVecCol), col("pq_code"), codebooks)
    topRows(index.join(broadcast(q), Seq("centroid_id"))
      .withColumn("score", score)
      .select(col(idCol), col("centroid_id"), col("score")), idCol, k)
  }

  /** Asymmetric-distance (ADC) top-k by PQ: score every data row against
    * the 1-row query frame as `Σ_j dot(q_sub_j, centroid_j[code_j])` —
    * the query stays exact, the data side is its code. The fold runs in
    * fixed subspace order seeded with 0.0, so the double is
    * deterministic and oracle-replayable. Per-row projection + one
    * `TakeOrderedAndProject`: the scan reads codes, not vectors —
    * PQ's 100 TB story.
    *
    * Config limit (since the r14 packed-code kernel): the m sub-codes
    * pack into ONE BIGINT, so `m × ceil(log2(ksub)) ≤ 64` — the
    * fused [[VectorExpressions.VecPqAdcScore]] requires it at plan
    * construction. m=8/ksub≤256 and m=16/ksub≤16 fit; wider configs
    * need a second code word (not a composed-score fallback — that
    * form re-crosses the JIT huge-method cliff this kernel removed). */
  def pqSearch(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      query: DataFrame,
      queryVecCol: String,
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      k: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    val codes = pqCodeColumns(col(vecCol), codebooks)
    val withCodes = prepareColumn(Partitioning.spread(data), vecCol, metric)
      .select(col(idCol) +: codes.zipWithIndex
        .map { case (c, j) => c.as(s"__code_$j") }: _*)
    val q = prepareColumn(query, queryVecCol, metric)
    // The ADC score `Σ_j dot(q_sub_j, centroid_j[code_j])` as ONE
    // fixed-order fold seeded 0.0: the fused VecPqAdcScore kernel over
    // the per-code columns shift/or-packed (a tiny integer tree). Since
    // r14 it replaces the m-term composed form (slice + dot + element_at
    // per subspace), which inlined into the same whole-stage method as
    // the encode kernels and crossed HotSpot's 8 KB huge-method JIT
    // limit — the scan ran INTERPRETED, 67.1s vs 0.4s for 200k rows at
    // ksub=64 (MIGRATION "Fused per-row kernels"). Same doubles in the
    // same order by construction (LshSpec + LshKernelSpec pin the
    // equalities the oracle depends on).
    val score = VectorExpressions.pqAdcScore(col(queryVecCol),
      packCodes(codebooks.indices.map(j => col(s"__code_$j")), codebooks), codebooks)
    topRows(withCodes.crossJoin(broadcast(q))
      .withColumn("score", score)
      .select(col(idCol), col("score")), idCol, k)
  }

  /** IVF+PQ with an exact refine stage (Jégou et al. 2011 §V-C "re-ranking
    * with source coding"; the reference's HNSW-==-bruteforce contract,
    * tests/test_v3_features.py:29-46): the compressed ADC pass over the
    * persisted code table nominates `nCandidates` ids, then ONLY those
    * rows' true vectors are fetched and re-scored exactly — quantization
    * error cannot reorder the final top-k within the candidate pool, so
    * recall approaches exact search at nCandidates ≫ k while the corpus
    * scan still reads 16-byte codes. The candidate fetch is a broadcast
    * semi-join (≤nCandidates rows) against the vector table — at scale a
    * pruned point-lookup, never a second full scan shuffle. */
  def ivfPqSearchRefined(
      index: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      query: DataFrame,
      queryVecCol: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      nProbes: Int,
      nCandidates: Int,
      k: Int,
      metric: Metric = Metric.Cosine): DataFrame = {
    val cands = ivfPqSearchIndexed(index, idCol, query, queryVecCol,
      centroids, codebooks, nProbes, nCandidates, metric)
      .select(col(idCol))
    val q = prepareColumn(query, queryVecCol, metric)
    topRows(prepareColumn(data, vecCol, metric)
      .join(broadcast(cands), Seq(idCol))
      .crossJoin(broadcast(q))
      .withColumn("score",
        metric.scorePrenormalized(col(vecCol), col(queryVecCol)))
      .select(col(idCol), col("score")), idCol, k)
  }

  /** SemDeDup-style embedding-space near-dup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster vectors by nearest centroid, compute
    * pairwise similarity WITHIN each cluster only, and flag every row
    * whose similarity to a LOWER-id cluster-mate exceeds `tau`
    * (keep-first by id — the deterministic analog of the paper's
    * keep-one rule). This is the dedup family that catches semantic
    * duplicates exact/minhash text dedup cannot (same meaning, different
    * words).
    *
    * Output: `(idCol, centroid_id, max_lower_sim, keep)` — one row per
    * input; `max_lower_sim` is null for the cluster's min-id row (no
    * lower mate), `keep = max_lower_sim is null or ≤ tau`.
    *
    * Scale shape: the quadratic is confined within clusters by design —
    * SemDeDup's own cost model: c scales with N (fixed expected cluster
    * size), so Σ n_c² stays ~N·(N/c). One shuffle by centroid id; the
    * assignment itself is a per-row `array_min` over codegen dots (zero
    * shuffle). The assigned frame feeds both self-join sides and the
    * join-back, so it materializes once (`localCheckpoint`). `max` of
    * doubles is partition-order-independent — no FP drift. */
  def semanticDedup(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      tau: Double,
      c: Int = 16,
      centroids: Option[Seq[(Long, Seq[Double])]] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(data, vecCol, idCol, c, metric))
    val d = prepareColumn(Partitioning.spread(data), vecCol, metric)
      .select(col(idCol), col(vecCol).as("__vec"))
      .withColumn("centroid_id", ivfAssign(col("__vec"), cents, metric))
      .localCheckpoint()
    val a = d.select(col("centroid_id"), col(idCol).as("__aid"),
      col("__vec").as("__avec"))
    val b = d.select(col("centroid_id"), col(idCol).as("__bid"),
      col("__vec").as("__bvec"))
    val maxLower = a.join(b, Seq("centroid_id"))
      .filter(col("__bid") < col("__aid"))
      .groupBy(col("__aid").as(idCol))
      .agg(max(metric.scorePrenormalized(col("__avec"), col("__bvec")))
        .as("max_lower_sim"))
    d.join(maxLower, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"), col("max_lower_sim"),
        (col("max_lower_sim").isNull || col("max_lower_sim") <= lit(tau))
          .as("keep"))
  }

  /** Cluster-confined max similarity of every `probe` row to the
    * `corpus` — the cross-frame face of [[semanticDedup]], and the
    * embedding-level TRAIN/TEST LEAKAGE check n-gram decontamination
    * ([[TextOps]]) cannot do (paraphrased eval questions share no
    * shingles but sit next to their source in embedding space).
    *
    * Output: one row per probe — `(idCol, centroid_id, max_sim)`,
    * `max_sim` null when the probe's cluster holds no corpus row.
    * Same scale contract as [[semanticDedup]]: zero-shuffle centroid
    * assignment on both sides, the quadratic confined within clusters,
    * one centroid-id shuffle, order-independent `max(double)`. */
  def clusterMaxSim(
      probe: DataFrame,
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val p = prepareColumn(Partitioning.spread(probe), vecCol, metric)
      .select(col(idCol), col(vecCol).as("__pvec"))
      .withColumn("centroid_id", ivfAssign(col("__pvec"), centroids, metric))
    val c = prepareColumn(corpus, vecCol, metric)
      .select(col(idCol).as("__cid_row"), col(vecCol).as("__cvec"))
      .withColumn("centroid_id", ivfAssign(col("__cvec"), centroids, metric))
    val sims = p.join(c, Seq("centroid_id"))
      .groupBy(col(idCol))
      .agg(max(metric.scorePrenormalized(col("__pvec"), col("__cvec")))
        .as("max_sim"))
    p.select(col(idCol), col("centroid_id"))
      .join(sims, Seq(idCol), "left")
  }

  /** Approximate knn join — the 100 TB path: pairs are only scored within
    * the same LSH bucket, turning O(N·M) pairs into O(N·M / 2^bits)
    * expected. The bucket equi-join shuffles both sides by bucket id
    * instead of materializing a cross product; no broadcast needed on
    * either side. Deterministic (arithmetic hyperplanes), so
    * exact-match verifiable against a SQL oracle replaying the same
    * bucketing. Single-probe: recall < 1 by design — verify with a
    * recall assertion vs [[knnJoin]] (see LshSpec). */
  def bucketedKnnJoin(
      queries: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      k: Int,
      dim: Int,
      bits: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    def bucket = lshBucket(col(vecCol), dim, bits).as("bucket")
    val q = side(queries, vecCol, idCol, metric, "query_id", "__qvec", bucket)
    val d = side(data, vecCol, idCol, metric, "neighbor_id", "__dvec", bucket)
    rankTopK(scorePairs(q.join(d, Seq("bucket")), metric, excludeSelf), k)
  }

  /** The LSH index AS DATA: one row per (id, band, bucket) over `bands`
    * independent hyperplane families — the persistable form of the
    * bucketing [[multibandKnnJoin]] computes inline (save it with
    * [[graft.VectorTable.save]]-style parquet and equi-join it back by
    * id). Bucketing is per-row and stateless, which is what makes the
    * incremental path below exact, not approximate. */
  def lshBucketTable(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      dim: Int,
      bits: Int,
      bands: Int = 1): DataFrame =
    prepareColumn(data, vecCol, metric).select(
      col(idCol),
      // ONE fused kernel for all bands (posexplode pos == band id) —
      // the per-band composition generated bands×bits inlined dot loops
      // and fell off the JIT past ~4 bands (VecSignLshBuckets scaladoc)
      posexplode(VectorExpressions.signLshBuckets(col(vecCol), dim, bits,
        bands)).as(Seq("band", "bucket")))

  /** O12 batch analog (the reference's incremental `add`, ann.py:78-91):
    * bucket ONLY the appended rows and union with the persisted index —
    * no re-scan of the existing corpus. Because sign-LSH bucketing is a
    * pure per-row function of the vector, append-then-union is EQUAL to
    * a full rebuild (LshSpec pins it), unlike graph indexes (HNSW) whose
    * insert order changes the structure. */
  def lshIndexAppend(
      index: DataFrame,
      newRows: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      dim: Int,
      bits: Int,
      bands: Int = 1): DataFrame =
    index.unionByName(
      lshBucketTable(newRows, vecCol, idCol, metric, dim, bits, bands))

  /** Maintenance COMPACTION of a persisted append-accumulated index
    * table (the [[lshIndexAppend]] / `q_stream_index` layout, reference
    * O12 incremental-add family ann.py:78-91) — the missing last step
    * of the index-as-data lifecycle (build → append → stream → serve →
    * compact, VERDICT r7 "What's missing" #3): a year of micro-batch
    * appends leaves one part file PER batch PER partition, so an index
    * scan at 100 TB goes metadata- and file-open-bound long before it
    * is IO-bound. The rewrite is layout-only:
    *
    *  - `repartition(col("band"))` places ALL of a band's rows in
    *    exactly one task, so `partitionBy("band")` emits ONE file per
    *    band directory — file count drops from O(appends × bands) to
    *    O(bands), restoring split sizes to `maxPartitionBytes`-bounded;
    *  - `sortWithinPartitions(bucket, id)` clusters each band file by
    *    bucket, so a bucket-probe read skips row groups on parquet
    *    min/max stats and the directory layout prunes non-probed bands
    *    entirely (the same pruning the persisted-IVF path certifies);
    *  - the ROW SET is untouched — q_index_compact certifies the
    *    compacted table against the same full-rebuild oracle as
    *    q_index_append, and LshSpec pins compacted == uncompacted plus
    *    the fewer-files claim itself.
    *
    * At cluster scale the same rewrite runs per band-partition
    * predicate (compact only partitions whose file count crossed a
    * threshold), which is why it takes paths, not DataFrames: the
    * operator owns the physical layout end to end. */
  def compactIndex(spark: SparkSession, src: String, dest: String,
      idCol: String = "vec_id"): Unit =
    spark.read.parquet(src)
      .repartition(col("band"))
      .sortWithinPartitions("bucket", idCol)
      .write.mode("overwrite").partitionBy("band").parquet(dest)

  /** IVF assignment table `(id, centroid_id)` — the IVF index as data,
    * same role as [[lshBucketTable]]. */
  def ivfAssignTable(
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    prepareColumn(data, vecCol, metric).select(
      col(idCol), ivfAssign(col(vecCol), centroids, metric).as("centroid_id"))

  /** IVF incremental add: assign ONLY the new rows against the FROZEN
    * centroids and union. Freezing is the standard IVF serving contract
    * (recluster offline, not per insert) — with the same centroids,
    * incremental == rebuild exactly (LshSpec pins it). */
  def ivfIndexAppend(
      index: DataFrame,
      newRows: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      centroids: Seq[(Long, Seq[Double])]): DataFrame =
    index.unionByName(ivfAssignTable(newRows, vecCol, idCol, metric, centroids))

  /** Ceiling for BROADCASTING a prepared (id, vector) table into the
    * candidate re-attach joins of [[multibandKnnJoin]] /
    * [[multiProbeKnnJoin]]. A per-stage timing of the capped-multiband
    * serving row (r16, sf10) put ~90% of it in the re-attach stage: the
    * sort-merge form exchanges the CANDIDATE volume with a 512-byte
    * vector riding every row (the join after the first re-attach
    * shuffles |candidates| × (pair + qvec) to meet the neighbor side —
    * ~10⁸ × 536 B at sf10), while the vector table itself is only
    * `N · (8·dim + 24)` bytes — 104 MB at N = 200k, above Spark's
    * 10 MB auto-broadcast threshold so Catalyst never tries it.
    * Measured: 182.4s sort-merge vs 23.9s broadcast, identical rows.
    * The branch is self-sizing from a count (the established sizing-
    * pass pattern): broadcast while the table fits the ceiling, fall
    * back to the shuffled re-attach beyond it — at 100 TB (N ≥ 10⁸,
    * tens of GB of vectors) the re-attach is inherently a shuffle and
    * the scalar-candidates design keeps it `bands`-independent. 256 MB
    * stays well inside a production executor heap while covering any
    * single-node corpus this engine will meet.
    *
    * This is the TOTAL broadcast budget of a serving join, not a
    * per-side gate (ADVICE r17): every re-attach site broadcasts TWO
    * prepared (id, vector) relations — query side + neighbor side, or
    * a_emb + b_emb in the near-dup verify — so [[reattachSide]] gates
    * each side against HALF this ceiling, pinning at most 256 MB of
    * broadcast relations per executor however many sides a join
    * attaches. */
  private[graft] val ReattachBroadcastMaxBytes: Long = 256L << 20

  /** Estimated serialized bytes of an (id, Array[Double] vector)
    * re-attach table: 8·dim data + ~24 B of id/offsets per row. The row
    * count fed in is allowed to UNDER-count when rows carry null
    * vectors (posexplode drops them from the index but prepareColumn
    * keeps them in the re-attach side) — the fixtures have no null
    * embeddings, a null vector can never score anyway, and the only
    * consequence of an under-estimate is broadcasting a table slightly
    * above the ceiling, so the sizing stays count-based. */
  private def vecTableBytes(rows: Long, dim: Int): Long =
    rows * (8L * dim + 24L)

  /** Wrap a prepared vector table for re-attach: explicit broadcast
    * when the measured row count says it fits HALF of
    * [[ReattachBroadcastMaxBytes]] — every serving join attaches two
    * sides, so the per-side gate is ceiling/2 (see the ceiling's
    * scaladoc). The sf10 fixture's 104 MB table still broadcasts
    * (< 128 MB); plan choice on every gated fixture is unchanged. */
  private[graft] def reattachSide(vecs: DataFrame, rows: Long, dim: Int): DataFrame =
    if (vecTableBytes(rows, dim) <= ReattachBroadcastMaxBytes / 2) broadcast(vecs)
    else vecs

  /** Shared tail of the LSH joins: join the scalar `(query_id,
    * neighbor_id)` candidates back to the prepared query vectors (from
    * `queries`, `nQ` rows) and corpus vectors (from `data`, `nD` rows) —
    * each side broadcast when [[reattachSide]] says it fits — then score
    * and rank. The candidates are already self-filtered. */
  private def reattachAndRank(
      candidates: DataFrame,
      queries: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      k: Int,
      dim: Int,
      nQ: Long,
      nD: Long): DataFrame = {
    val qv = reattachSide(side(queries, vecCol, idCol, metric, "query_id", "__qvec"), nQ, dim)
    val dv = reattachSide(side(data, vecCol, idCol, metric, "neighbor_id", "__dvec"), nD, dim)
    rankTopK(scorePairs(candidates.join(qv, Seq("query_id")).join(dv, Seq("neighbor_id")),
      metric, excludeSelf = false), k)
  }

  /** The corpus-side bucket cap of the LSH joins: drop every `keys`
    * group of the scalar index `idx` holding more than `factor` × the
    * mean group size. One count per group plus a 1-row broadcast
    * threshold; whole groups drop, so an oracle replays it exactly. */
  private def capBuckets(idx: DataFrame, keys: Seq[String], factor: Double): DataFrame = {
    val thr = idx.groupBy(keys.head, keys.tail: _*)
      .agg(count(lit(1)).as("__n"))
      .agg(avg(col("__n")).as("__meanb"))
    val wB = Window.partitionBy(keys.head, keys.tail: _*)
    idx.withColumn("__bsz", count(lit(1)).over(wB))
      .crossJoin(broadcast(thr))
      .filter(col("__bsz").cast("double") <= lit(factor) * col("__meanb"))
      .drop("__bsz", "__meanb")
  }

  /** Multi-band OR amplification of [[bucketedKnnJoin]] — the recall
    * path the reference's HNSW gives its users (ann.py's ef_search
    * buys recall at candidate cost; here `bands` does): `bands`
    * independent hyperplane families, a pair is a candidate if it
    * collides in ANY band, candidates are deduplicated and ranked once.
    *
    * Scale shape (r4): the bucket join runs over the SCALAR index
    * layout ([[lshBucketTable]] — one (id, band, bucket) row per band,
    * 24 bytes), NOT over band-replicated vectors: at 100 TB exploding
    * the vector column `bands`× through the exchange would shuffle
    * `bands`× the corpus (the r3 shape's hidden cost). Candidate pairs
    * are OR-deduplicated while still scalar (ids only), and vectors are
    * joined back by id exactly ONCE per distinct candidate for the
    * codegen scoring — total vector movement is 2 id-keyed joins of the
    * candidate set, independent of `bands`. Recall rises as
    * 1−(1−p^bits)^bands; index cost is linear in `bands`, vector cost
    * is not. (Measured negative, r10 sf10: forcing the two re-attach
    * joins to shuffled-hash instead of sort-merge moved the capped row
    * 295.6s → 307.3s — the candidate-volume EXCHANGES dominate, not the
    * sorts, so the join-strategy hint is left to Catalyst/AQE.)
    *
    * Parameter guide at 100 TB: size `bits` to the corpus
    * (`bits ≈ log2(N / target_bucket_rows)`) so per-bucket all-pairs
    * stays bounded, then buy recall with `bands`. Deterministic
    * (arithmetic planes) — an oracle replays it as a UNION ALL of the
    * per-band bucketings.
    *
    * `maxBucketFactor` — the production bucket-size cap (r9 sweep
    * finding): sign-LSH occupancy is SKEWED on real embeddings (the
    * sf10 fixture measured max bucket 17× the mean, Σn² 2.6× uniform),
    * and at corpus scale one hot bucket does quadratic pair work while
    * the rest of the cluster idles — the same death
    * [[graft.operators.Sketches.minhashCandidatesCapped]] guards the
    * text path against. When set, every corpus-side (band, bucket)
    * whose occupancy exceeds `factor × mean occupancy` is dropped
    * BEFORE the join, bounding each bucket's pair fan-out by
    * (factor·mean)·|queries in bucket| BY CONSTRUCTION. The cap is
    * RELATIVE, not absolute, so one constant self-sizes along the whole
    * scale curve (a fixed row cap correct at sf0.01's mean of 2.4 rows
    * is absurd at sf10's mean of 49 and vice versa). Vectors in a
    * dropped bucket keep their other `bands−1` chances — recall decays
    * gracefully (certified ≥0.8 through the q_ann_recall_capped oracle
    * row and LshSpec). The sizing pass is ONE count over the 24-byte
    * scalar index rows on the (band, bucket) keys the join shuffles to
    * anyway, plus a 1-row broadcast threshold — bucket sizing never
    * touches vectors. Whole buckets drop (never a row sample): the
    * predicate is a pure function of the bucket, so an oracle replays
    * it exactly and incremental rebuilds stay deterministic. */
  def multibandKnnJoin(
      queries: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      k: Int,
      dim: Int,
      bits: Int = 8,
      bands: Int = 8,
      excludeSelf: Boolean = true,
      maxBucketFactor: Option[Double] = None,
      // Row-count hints for the re-attach broadcast decision ONLY (plan
      // choice, never results). Without them this method is EAGER: it
      // runs a count() job per distinct side at DataFrame-construction
      // time (re-executing arbitrary caller subtrees in the non-self
      // path, and incompatible with streaming inputs) — callers that
      // already know their sizes (every Queries ANN site counts the
      // corpus for bits sizing anyway) pass them to keep construction
      // lazy. An estimate is fine: it only gates broadcast-vs-shuffle.
      dataCountHint: Option[Long] = None,
      queriesCountHint: Option[Long] = None): DataFrame = {
    // self-knn fast path: when both sides are the same frame, bucket the
    // corpus ONCE and materialize the scalar index (24-byte rows) — the
    // two join sides are differently-named projections, so Catalyst
    // cannot reuse the exchange and would run the bands·bits projection
    // sweep twice
    val self = queries eq data
    val qSpread = Partitioning.spread(queries)
    val qIdx = lshBucketTable(qSpread, vecCol, idCol, metric, dim, bits, bands)
    val sharedIdx = if (self) qIdx.localCheckpoint() else qIdx
    val qi = sharedIdx
      .select(col(idCol).as("query_id"), col("band"), col("bucket"))
    val diRaw = (if (self) sharedIdx
              else lshBucketTable(data, vecCol, idCol, metric, dim, bits, bands))
      .select(col(idCol).as("neighbor_id"), col("band"), col("bucket"))
    // corpus-side only: a query in a dropped bucket still probes its
    // other bands (and in the self case the pair vanishes from that
    // band either way, so capping one side equals capping both).
    // checkpoint (lazy) so the sizing aggregate and the join feed from
    // ONE execution of the index subtree.
    val di = maxBucketFactor.fold(diRaw) { f =>
      val idx = if (self) diRaw else diRaw.localCheckpoint(eager = false)
      capBuckets(idx, Seq("band", "bucket"), f)
    }
    // OR-dedup while scalar: the shuffle key is the id pair, no payload
    val candidates = dropSelf(qi.join(di, Seq("band", "bucket")), excludeSelf)
      .select("query_id", "neighbor_id").distinct()
    // re-attach sizing pass: hints first, else one count per side (the
    // self path reads it off the already-materialized index —
    // rows/bands — for free)
    val nD = dataCountHint.getOrElse(
      if (self) sharedIdx.count() / bands else data.count())
    val nQ =
      if (self) nD else queriesCountHint.getOrElse(queries.count())
    reattachAndRank(candidates, qSpread, data, vecCol, idCol, metric, k, dim, nQ, nD)
  }

  /** Query-side multi-probe LSH (Lv et al., "Multi-Probe LSH", VLDB
    * 2007): instead of buying recall with more bands (index cost linear
    * in bands — [[multibandKnnJoin]]), probe the buckets MOST LIKELY to
    * hold missed neighbors — those reached by flipping the sign bits
    * whose hyperplane projections have the smallest |margin| (a
    * near-zero projection means the neighbor plausibly landed on the
    * other side). The INDEX is untouched — the same single-band
    * `(id, bucket)` table [[lshBucketTable]] persists — so recall is
    * bought per-QUERY at serving time: `1 + flips` bucket probes per
    * query instead of a bigger index. That is the knob asymmetry that
    * matters at 100 TB: probes multiply the query side of the equi-join
    * (tiny), never the corpus side or the stored index.
    *
    * Candidate handling mirrors [[multibandKnnJoin]]: probe hits are
    * OR-deduplicated while still scalar id pairs, vectors join back by
    * id once per distinct candidate for codegen scoring. Everything is
    * deterministic — argmin margins tie-break to the lowest plane
    * index via first-match CASE semantics identical in Spark and SQL —
    * so the oracle replays the full probe generation. Candidate sets
    * strictly contain the single-probe ones, so recall ≥
    * [[bucketedKnnJoin]]'s at the same (bits) — pinned in LshSpec.
    *
    * `maxBucketFactor` — the [[multibandKnnJoin]] occupancy cap applied
    * to the single-band corpus index (r15, VERDICT r14 #5: at sf10 the
    * row's cost is the candidate join, and probing has no bound on the
    * probed buckets' occupancy — flipping INTO a skew-hot bucket costs
    * its full occupancy per probing query). Corpus-side (bucket) groups
    * whose occupancy exceeds `factor × mean` are dropped BEFORE the
    * probe join. The recall trade is SHARPER than multiband's: the
    * index is single-band, so a corpus vector in a dropped bucket has
    * no other band to be found in — it leaves the candidate pool for
    * every query. (Queries in dropped home buckets still probe their
    * flip buckets — only the corpus side is capped.) Hot sign-LSH
    * buckets are the crowded, least-selective regions, so the measured
    * recall stays high — certified through the
    * q_ann_recall_multiprobe_scaled oracle row, same treatment as the
    * multiband cap's recall rows.
    *
    * Contract: `idCol` must be unique on BOTH sides. The candidate pairs
    * are unique by construction only per (query row, corpus row), and no
    * `distinct` runs on them, so a duplicated id yields duplicate
    * `(query_id, neighbor_id)` rows in the output. */
  def multiProbeKnnJoin(
      queries: DataFrame,
      data: DataFrame,
      vecCol: String,
      idCol: String,
      metric: Metric,
      k: Int,
      dim: Int,
      bits: Int = 8,
      flips: Int = 2,
      excludeSelf: Boolean = true,
      maxBucketFactor: Option[Double] = None,
      // re-attach sizing hints — see [[multibandKnnJoin]]: estimates
      // that gate ONLY the broadcast decision; omitting them makes
      // construction eager (a count() job per distinct side)
      dataCountHint: Option[Long] = None,
      queriesCountHint: Option[Long] = None): DataFrame = {
    require(flips == 1 || flips == 2, s"1 or 2 probe flips supported, got $flips")
    val qSpread = Partitioning.spread(queries)
    val diRaw = prepareColumn(data, vecCol, metric)
      .select(col(idCol).as("neighbor_id"),
        lshBucketBand(col(vecCol), dim, bits, band = 0).as("bucket"))
    // lazy checkpoint: the sizing aggregate and the probe join feed
    // from ONE execution of the bucketing subtree
    val di = maxBucketFactor.fold(diRaw)(f =>
      capBuckets(diRaw.localCheckpoint(eager = false), Seq("bucket"), f))
    // Probe generation is STAGED through aliased projections so each
    // subexpression is computed once and referenced as an attribute.
    // Composing it as one Column tree re-expands bv1 inside every
    // penalty term and the penalties inside bv2 (~10k nodes), which
    // blows the generated doConsume past janino's method limit — codegen
    // falls back to interpreted and logs ERROR per run. CollapseProject
    // keeps these stages apart because each alias is non-cheap and
    // multiply-referenced.
    def firstMatchBit(keys: Seq[Column], target: Column): Column =
      keys.zipWithIndex.reverse.foldLeft(lit(0L): Column) { case (els, (kc, j)) =>
        // ties go to the lowest plane index in BOTH engines
        // (first-match CASE semantics)
        when(kc === target, lit(1L << j)).otherwise(els)
      }
    // stage 1: per-plane projections, once per query row
    val qp = prepareColumn(qSpread, vecCol, metric)
      .select(col(idCol).as("query_id") +: (0 until bits).map(j =>
        VectorExpressions.dot(col(vecCol), hyperplane(j, dim)).as(s"__p$j")): _*)
    // stage 2: abs margins + home bucket from the materialized projections
    val s2 = qp.select(
      col("query_id") +:
        (0 until bits).map(j =>
          when(col(s"__p$j") > lit(0.0), lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("__bucket") +:
        (0 until bits).map(j => abs(col(s"__p$j")).as(s"__a$j")): _*)
    // stage 3: first flip bit = argmin |margin|
    val aCols = (0 until bits).map(j => col(s"__a$j"))
    val s3 = s2.select(
      col("query_id") +: col("__bucket") +:
        firstMatchBit(aCols, least(aCols: _*)).as("__bv1") +:
        aCols.zipWithIndex.map { case (c, j) => c.as(s"__a$j") }: _*)
    // stage 4: second flip = argmin with the first excluded by penalty —
    // the +1e9 dwarfs any |projection| of a normalized vector
    val s4 = s3.select(
      col("query_id") +: col("__bucket") +: col("__bv1") +:
        (0 until bits).map(j =>
          (col(s"__a$j") +
            when(col("__bv1") === lit(1L << j), lit(1e9)).otherwise(lit(0.0)))
            .as(s"__c$j")): _*)
    val cCols = (0 until bits).map(j => col(s"__c$j"))
    val s5 = s4.select(col("query_id"), col("__bucket"), col("__bv1"),
      firstMatchBit(cCols, least(cCols: _*)).as("__bv2"))
    val probes =
      if (flips == 1) array(col("__bucket"), col("__bucket").bitwiseXOR(col("__bv1")))
      else array(col("__bucket"), col("__bucket").bitwiseXOR(col("__bv1")),
        col("__bucket").bitwiseXOR(col("__bv2")))
    // array_distinct: the flip probes are distinct single-bit XORs of the
    // home bucket, so for any non-degenerate vector the probe list is
    // already duplicate-free; the per-row dedup only guards degenerate
    // rows (a null/zero vector makes every margin comparison fall to the
    // 0 branch and all probes collapse to bucket 0) at O(flips) cost.
    val qi = s5.select(col("query_id"), explode(array_distinct(probes)).as("bucket"))
    // No OR-dedup needed, unlike multibandKnnJoin: the single-band index
    // holds each neighbor in exactly ONE bucket and a query's probe
    // buckets are pairwise distinct (home ≠ home^bv1 ≠ home^bv2 — bv1 and
    // bv2 are distinct nonzero single bits; degenerate rows are deduped
    // by the array_distinct above), so (query_id, neighbor_id) pairs are
    // unique BY CONSTRUCTION and the old `.distinct()` was a full
    // exchange + two hash aggregates over the candidate volume for
    // nothing (guide §2.4: a distinct on data that is already unique).
    val candidates = dropSelf(qi.join(di, Seq("bucket")), excludeSelf)
      .select("query_id", "neighbor_id")
    // re-attach sizing pass (the multiband shape): hints first, else
    // count once per distinct side; broadcast while the table fits
    val nD = dataCountHint.getOrElse(data.count())
    val nQ =
      if (queries eq data) nD else queriesCountHint.getOrElse(queries.count())
    reattachAndRank(candidates, qSpread, data, vecCol, idCol, metric, k, dim, nQ, nD)
  }
}
