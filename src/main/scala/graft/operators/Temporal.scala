package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.PlanGlue
import org.apache.spark.sql.types.{LongType, StructType}

import graft.plans.{ExpandOverlapJoin, OverlapJoinPlan}

/** Temporal joins Spark lacks as built-ins. */
object Temporal {

  /** AS-OF join: for every left row, the LATEST right row with the same
    * key and `right.ts <= left.ts` (inclusive; left rows with no prior
    * right row keep null match columns — LEFT OUTER semantics, like
    * DuckDB's `ASOF LEFT JOIN`).
    *
    * Implementation is the scale-correct union + running-last-match
    * window, NOT a range join: a range-condition join materializes the
    * per-key cartesian before filtering (O(n·m) pairs per key — dead at
    * 100 TB), while this plan unions both sides, shuffles ONCE by key,
    * sorts each partition by (ts, side) and carries the last-seen right
    * payload forward with a running `last(ignoreNulls)` frame — O((n+m)
    * log(n+m)) per key, no pair blow-up. Right rows sort BEFORE left
    * rows at equal ts (side tag 0 < 1), which is what makes the match
    * inclusive.
    *
    * Determinism: rows ordered by (ts, side, right id) — callers with
    * multiple right rows at the SAME (key, ts) get the highest-id one
    * (documented tie-break, mirroring `ORDER BY ts, id` oracles).
    *
    * Output: every left column unchanged + every right column prefixed
    * `asof_`. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      idCol: String,
      rightPrefix: String = "asof_"): DataFrame = {
    val rightPayloadFields = right.columns.toSeq
    val rPayType = StructType(right.schema.fields)
    val l = left.select(
      col(keyCol).as("__key"), col(tsCol).as("__ts"),
      lit(1).as("__side"),
      lit(Long.MaxValue).as("__rid"),
      struct(left.columns.map(col): _*).as("__lpay"),
      lit(null).cast(rPayType).as("__rpay"))
    val r = right.select(
      col(keyCol).as("__key"), col(tsCol).as("__ts"),
      lit(0).as("__side"),
      col(idCol).cast("long").as("__rid"),
      lit(null).cast(StructType(left.schema.fields)).as("__lpay"),
      struct(right.columns.map(col): _*).as("__rpay"))
    val w = Window.partitionBy("__key")
      .orderBy(col("__ts").asc, col("__side").asc, col("__rid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__match", last("__rpay", ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val leftCols = left.columns.map(c => col(s"__lpay.$c").as(c))
    val rightCols = rightPayloadFields.map(c =>
      col(s"__match.$c").as(s"$rightPrefix$c"))
    matched.select(leftCols ++ rightCols: _*)
  }

  /** Keep-first-arrival dedup (DISTINCT ON): one row per key — the one
    * with the smallest `(ordering, tie-break)` — the batch analog of the
    * streaming `dropDuplicatesWithinWatermark` ingest contract (re-runs
    * of an at-least-once feed collapse to first arrivals).
    *
    * Implemented as `min(struct(order cols ++ payload))`, NOT a
    * `row_number() = 1` window: the struct-min is a PARTIAL aggregate
    * (each partition reduces to one candidate row per local key before
    * the exchange — duplicates never shuffle), while the window form
    * ships and sorts EVERY duplicate row. The struct buffer does force
    * sort-based aggregation (struct agg buffers aren't hash-mutable);
    * when the ordering fits a single BIGINT, pack it instead for a
    * HashAggregate — [[TextOps.segmentDedup]]'s first-occurrence vote
    * does exactly that. Struct comparison is field-by-field
    * lexicographic, so putting the ordering columns first makes the two
    * forms pick the same row; `orderCols` must be non-null and, with
    * the tie-break, unique per key (callers pass an id last).
    *
    * Output: one row per key with columns `keyCols ++ orderCols ++
    * payloadCols`, in that order. */
  def keepFirst(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val picked = df
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct((orderCols ++ payloadCols).map(col): _*)).as("__first"))
    picked.select(
      keyCols.map(col) ++
        (orderCols ++ payloadCols).map(c => col(s"__first.$c").as(c)): _*)
  }

  /** Per-group top-k by VALUE — [[keepFirst]]'s k-generalization and
    * [[graft.operators.Splits.reservoirSample]]'s by-value complement:
    * the n rows with the largest (or smallest) `valueCol` in each
    * group, ties broken by `tieCol` ascending, with a 1-based
    * `group_rank`. The curriculum-selection / per-domain-leaderboard
    * shape ("top-quality docs per language").
    *
    * Scale: same `InferWindowGroupLimit` contract as reservoirSample —
    * the `row_number ≤ n` filter plants a PARTIAL WindowGroupLimit
    * below the group-key exchange, so each partition forwards at most
    * n rows per group (PlanSpec pins the partial node; the naive
    * window would funnel the corpus through the low-cardinality key). */
  def groupTopK(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      tieCol: String,
      n: Int,
      largest: Boolean = true): DataFrame = {
    require(n > 0, s"top-k size must be positive, got $n")
    val primary = if (largest) col(valueCol).desc else col(valueCol).asc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(primary, col(tieCol).asc)
    df.withColumn("group_rank", row_number().over(w).cast("long"))
      .filter(col("group_rank") <= n)
  }

  /** Range join: every (point, interval) pair with `lo <= pt <= hi` —
    * point-in-interval matching with NO equi-key (events to windows,
    * readings to validity ranges). All three columns must be LONG
    * (epoch seconds or any monotonic numeric domain).
    *
    * A point is the interval [pt, pt], so this is
    * `overlapJoin(points, ptCol, ptCol, intervals, loCol, hiCol,
    * bucketWidth)`: the overlap residual is the range predicate, the
    * hull prune is `pt BETWEEN min(lo) AND max(hi)`, the bloom probes
    * the point's one bucket, and the ownership test always holds for a
    * matching pair. The points are the corpus-scale `left` side; a call
    * whose interval side is ≥10× the points is swapped internally like
    * any overlap join. `bucketWidth` should be ≥ the maximum interval
    * length so each interval lands in ≤ 2 buckets.
    *
    * Output: every point column, then every interval column. Column
    * names must be disjoint across the two inputs. */
  def rangeJoin(
      points: DataFrame,
      ptCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      bucketWidth: Long): DataFrame =
    overlapJoin(points, ptCol, ptCol, intervals, loCol, hiCol, bucketWidth)

  /** Interval-OVERLAP join: `a ⋈ b ON a.lo <= b.hi AND b.lo <= a.hi`
    * (inclusive overlap, all four LONG) — the one interval join;
    * [[rangeJoin]] is this call with a point as the interval [pt, pt].
    * Declares the custom [[graft.plans.OverlapJoinPlan]] node, which
    * [[graft.plans.ExpandOverlapJoin]] rewrites to the bucket trick
    * applied to BOTH sides (equi-join on bucket id, exact overlap as
    * residual, duplicate pairs eliminated WITHOUT a distinct by bucket
    * OWNERSHIP — see the node's scaladoc for the cost model) plus a
    * runtime LEFT-side prune: hull bounds before the explode and a
    * bucket-id bloom below the exchange, both fed by one metadata-scale
    * subquery over the right side — so pass the CORPUS-SCALE frame as
    * `left` and the smaller one as `right`; a misoriented call
    * auto-swaps internally when the right side's size estimate is ≥10×
    * the left's (VERDICT r13 #7 — result and schema unchanged). NULL or
    * inverted (`hi < lo`) intervals on either side produce no bucket
    * rows — they never match. NOTE this is a deliberate semantic
    * choice, not a consequence of the predicate: unlike the point
    * predicate (unsatisfiable when `hi < lo`), the raw overlap theta
    * `a.lo <= b.hi AND b.lo <= a.hi` IS satisfiable by an inverted
    * interval nested inside the other side (a=[10,4] vs b=[0,20]) —
    * here an inverted interval denotes the empty set and overlaps
    * nothing (PropertySpec pins the divergence). Catalyst picks
    * broadcast vs shuffled hash vs sort-merge on the bucket key as
    * usual, AQE re-plans on runtime sizes. */
  def overlapJoin(
      left: DataFrame,
      lLoCol: String,
      lHiCol: String,
      right: DataFrame,
      rLoCol: String,
      rHiCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val spark = left.sparkSession
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"overlapJoin requires disjoint column names; both sides have: $overlap")

    val lPlan = PlanGlue.analyzed(left)
    // Fresh exprIds on the right side so a self-overlap-join (both
    // frames derived from one source) cannot alias attributes across
    // the two join inputs.
    val rBase = PlanGlue.analyzed(right)
    val rPlan = Project(rBase.output.map(a => Alias(a, a.name)()), rBase)

    def resolve(out: Seq[Attribute], name: String, side: String): Attribute = {
      val a = out.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"overlapJoin: no column '$name' on the $side side"))
      require(a.dataType == LongType,
        s"overlapJoin: column '$name' must be LONG, got ${a.dataType.sql}")
      a
    }
    val lLo = resolve(lPlan.output, lLoCol, "left")
    val lHi = resolve(lPlan.output, lHiCol, "left")
    val rLo = resolve(rPlan.output, rLoCol, "right")
    val rHi = resolve(rPlan.output, rHiCol, "right")

    if (!spark.experimental.extraOptimizations.exists(_ eq ExpandOverlapJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ExpandOverlapJoin

    PlanGlue.ofRows(spark,
      OverlapJoinPlan(lPlan, rPlan, lLo, lHi, rLo, rHi, bucketWidth))
  }

  /** K-step first-touch funnel: a user converts step i when their
    * EARLIEST step-i event at-or-after their step-(i−1) conversion time
    * falls within `windowDays` of their FIRST-step time (the classic
    * product-analytics funnel — each stage is the min qualifying
    * timestamp, so results are deterministic however events arrive).
    *
    * Output: `(step_index BIGINT, step STRING, n_users BIGINT)` —
    * counts are non-increasing by construction.
    *
    * Scale shape: stage i is a user-keyed aggregation of only that
    * step's events (pushed-down type filter) joined to the stage-(i−1)
    * user frame — every shuffle is keyed on the uniform `userCol`, the
    * per-stage frames carry (user, 2 timestamps), and no self-join of
    * the full event log ever happens. K stages = K filtered scans of
    * the SAME event partition layout (at 100 TB: a type-partitioned
    * log reads each step's slice only). */
  def funnelCounts(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowDays: Int): DataFrame = {
    require(steps.nonEmpty, "funnelCounts: need at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    var stage = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("__t0"))
      .withColumn("__t", col("__t0"))
    val counts = scala.collection.mutable.ArrayBuffer[(Long, String, Long)](
      (1L, steps.head, stage.count()))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      stage = events.filter(col(typeCol) === st)
        .select(col(userCol), col(tsCol).as("__ts"))
        .join(stage.select(col(userCol), col("__t0"), col("__t")), Seq(userCol))
        .filter(col("__ts") >= col("__t") &&
          col("__ts") <= col("__t0") + expr(s"INTERVAL $windowDays DAYS"))
        .groupBy(col(userCol))
        .agg(min(col("__t0")).as("__t0"), min(col("__ts")).as("__t"))
      counts += ((i + 1L, st, stage.count()))
    }
    counts.toSeq.toDF("step_index", "step", "n_users")
  }

  /** Retention cohorts — the other half of product analytics next to
    * [[funnelCounts]]: users grouped by the ISO week of their FIRST
    * event, then per (cohort, week-offset) distinct-active counts for
    * offsets 0..maxWeeks−1. Both week starts are Mondays, so the
    * day-difference is an exact multiple of 7 — the offset is exact
    * integer arithmetic cross-engine.
    *
    * Scale shape: one user-keyed aggregation for first-touch, one
    * user-keyed join back (AQE co-partitions with the agg's exchange),
    * then a (cohort, offset)-keyed distinct-count — shuffles carry
    * (user, 2 timestamps) and the final frame is cohort×offset-sized.
    * Output: `(cohort_week TIMESTAMP, week_offset BIGINT,
    * n_active BIGINT)`. */
  def retentionCohorts(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      maxWeeks: Int): DataFrame = {
    val first = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("__first"))
      .select(col(userCol), date_trunc("week", col("__first")).as("cohort_week"))
    events.select(col(userCol), date_trunc("week", col(tsCol)).as("__ew"))
      .join(first, Seq(userCol))
      .withColumn("week_offset",
        (datediff(col("__ew"), col("cohort_week")) / 7).cast("long"))
      .filter(col("week_offset") >= 0 && col("week_offset") < maxWeeks)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col(userCol)).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** SCD-Type-2 history build — the warehousing op that turns an event
    * stream into validity intervals: per key, each CHANGE of `valueCol`
    * opens an interval at its timestamp, closed by the next change
    * (null `valid_to_us` = current). Consecutive repeats of the same
    * value collapse (gaps-and-islands), ties at equal timestamps break
    * by `idCol` — fully deterministic. Timestamps surface as exact
    * epoch MICROSECONDS (the sessionize parity contract).
    *
    * Scale shape: two windows over the SAME (key)-partitioned
    * (ts, id)-sorted frame — one shuffle, the second window reuses the
    * first's sort; the change filter shrinks the frame before the
    * interval window. Output: `(keyCol, valueCol, valid_from_us,
    * valid_to_us)`. */
  def scd2History(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      idCol: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val w = Window.partitionBy(keyCol).orderBy(col("__us"), col(idCol))
    events
      .select(col(keyCol), col(idCol), col(valueCol), us.as("__us"))
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(valueCol))
      .withColumn("valid_to_us", lead(col("__us"), 1).over(w))
      .select(col(keyCol), col(valueCol), col("__us").as("valid_from_us"),
        col("valid_to_us"))
  }
}
