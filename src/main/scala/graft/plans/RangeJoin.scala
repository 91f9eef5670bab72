package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, Max, Min}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Shared machinery of the two bucketed interval-join rewrites
  * ([[ExpandRangeJoin]] point-in-interval, [[ExpandOverlapJoin]]
  * interval×interval): bucket math and the one-subquery
  * min/max/bloom statistics of an interval frame. */
private[plans] object IntervalBuckets {

  def bucketOf(e: Expression, width: Long): Expression =
    IntegralDivide(e, Literal(width, LongType))

  /** The buckets an interval `[lo, hi]` overlaps, as a LONG array;
    * NULL or inverted bounds yield a NULL array (Explode drops it).
    * Sequence is TimeZoneAwareExpression — it is only `resolved` with
    * a timeZoneId bound, even for LONG sequences. */
  def bucketSeqOf(lo: Expression, hi: Expression, width: Long,
      tz: String): Expression =
    If(
      GreaterThanOrEqual(hi, lo),
      new Sequence(
        bucketOf(lo, width), bucketOf(hi, width),
        Some(Literal(1L, LongType)), Some(tz)),
      Literal.create(null, ArrayType(LongType, containsNull = false)))

  /** True when no expression anywhere in `plan` is nondeterministic —
    * the precondition for re-executing it inside a prune subquery
    * (which could otherwise prune against a different draw than the
    * join sees). */
  def isDeterministic(plan: LogicalPlan): Boolean =
    !plan.exists(_.expressions.exists(!_.deterministic))

  /** Handles to the min/max/bloom statistics of an interval frame, all
    * fields of ONE uncorrelated scalar subquery instance (so
    * `ReuseSubquery` dedups however many predicates consume them). */
  final case class IntervalStats(
      lo: Expression, hi: Expression,
      mightContainBucket: Expression => Expression)

  /** ONE uncorrelated scalar subquery over the EXPLODED interval frame
    * computing `struct(min(lo), max(hi), bloom(xxhash64(bucket)))` —
    * a single metadata-scale aggregate job. Aggregating over the
    * exploded frame (not the raw one) drops NULL/inverted intervals
    * from min/max as well — rows that cannot match anything never
    * widen the bounds; an empty or all-degenerate interval frame
    * yields NULL bounds and a NULL bloom, whose null-rejecting
    * predicates drop every probe row — exactly right, nothing could
    * match. False positives in the bloom only widen the prune
    * (exactness lives in the join residual); a saturated bloom
    * degrades to pass-all, never to wrong results.
    *
    * Bloom capacity: the no-arg constructor defaults to ~1M expected
    * items (spark.sql.optimizer.runtime.bloomFilter.expectedNumItems)
    * — an interval frame exploding past capacity saturates the bloom
    * toward pass-all, silently losing the prune while still paying
    * the subquery cost. Size it instead: 2× the interval side's CBO
    * row count (the exploded frame is ≤ 2×|intervals| at the intended
    * width), else Spark's default. BloomFilterAggregate itself clamps
    * the estimate to runtime.bloomFilter.maxNumItems, so an
    * over-estimate is safe. */
  def intervalStats(r: LogicalPlan, lo: Expression, hi: Expression,
      width: Long, tz: String, conf: SQLConf): IntervalStats = {
    // column-pruned interval side: the subquery job reads only lo/hi
    val slim = Project((lo.references ++ hi.references).toSeq, r)
    val bkt = AttributeReference("__iv_stats_bucket", LongType, nullable = false)()
    val exploded = Generate(
      Explode(bucketSeqOf(lo, hi, width, tz)),
      unrequiredChildIndex = Nil,
      outer = false,
      qualifier = None,
      generatorOutput = Seq(bkt),
      child = slim)
    val expectedItems: Long =
      r.stats.rowCount.map(n => (n * 2).min(BigInt(Long.MaxValue)).toLong)
        .getOrElse(conf.getConf(
          SQLConf.RUNTIME_BLOOM_FILTER_EXPECTED_NUM_ITEMS))
        .max(1L)
    // min/max over the exploded frame duplicate per bucket row —
    // harmless, min/max are duplication-idempotent
    val agg = Alias(CreateNamedStruct(Seq(
      Literal("lo"), Min(lo).toAggregateExpression(),
      Literal("hi"), Max(hi).toAggregateExpression(),
      Literal("bf"), new BloomFilterAggregate(new XxHash64(Seq(bkt)),
        expectedItems).toAggregateExpression())), "__iv_stats")()
    val sub = ScalarSubquery(Aggregate(Nil, Seq(agg), exploded))
    IntervalStats(
      GetStructField(sub, 0, Some("lo")),
      GetStructField(sub, 1, Some("hi")),
      b => BloomFilterMightContain(
        GetStructField(sub, 2, Some("bf")), new XxHash64(Seq(b))))
  }
}

/** Custom logical operator: range join `points ⋈ intervals ON lo <= pt
  * <= hi` (all three LONG, e.g. epoch seconds).
  *
  * Why a custom node (SURVEY §7.3 preference ladder, step (c)): Spark
  * has no equi-key to extract from a pure range predicate, so
  * `ExtractEquiJoinKeys` fails and the planner falls back to
  * `BroadcastNestedLoopJoin` / `CartesianProduct` — an O(n·m) pair scan
  * that is fine at test scale and dead at 100 TB. The declarative
  * [[RangeJoinPlan]] node carries the range semantics through analysis
  * untouched; [[ExpandRangeJoin]] then rewrites it into the
  * scale-correct shape: both sides bucketed by `bucketWidth`, intervals
  * exploded to every bucket they overlap, one EQUI-join on the bucket
  * id, and the exact range predicate kept as the join residual. The
  * result is a shuffled hash/sort-merge join on a high-cardinality key
  * — the plan you'd hand-write at scale — with Catalyst planning the
  * join strategy as usual.
  *
  * Cost model: each interval produces `ceil(len/width)+1 ≤ 2` bucket
  * rows when `width ≥` the max interval length (the intended setting),
  * so the exploded side is ≤ 2× the interval count, and every candidate
  * pair shares a bucket — no pair blow-up beyond true-match density ×
  * bucket collision rate.
  *
  * Semantics: INNER join, both bounds inclusive; rows with a NULL
  * point never match (range predicate is null-rejecting); intervals
  * with NULL or inverted bounds (`hi < lo`) produce no bucket rows.
  * Bucketing uses integral division, which truncates toward zero — the
  * map is still monotone over all longs, so pre-epoch (negative)
  * values bucket correctly; only the bucket *boundaries* shift around
  * zero (bucket 0 spans `(-width, width)`), a constant-factor quirk,
  * not a correctness one.
  */
final case class RangeJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    pt: Expression,
    lo: Expression,
    hi: Expression,
    bucketWidth: Long)
  extends BinaryNode {
  require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule expanding [[RangeJoinPlan]] into bucketed-equi-join
  * form. Registered two ways: via [[graft.GraftExtensions]]
  * (`injectOptimizerRule`) for `spark.sql.extensions` sessions, and
  * auto-added to `spark.experimental.extraOptimizations` by
  * [[graft.operators.Temporal.rangeJoin]] for plain sessions (the rule
  * is idempotent — a second registration transforms nothing). */
object ExpandRangeJoin extends Rule[LogicalPlan] {
  import IntervalBuckets._

  /** Runtime points-side prune (VERDICT r10 #1, widened r12): without
    * it the rewrite buckets and SHUFFLES every point even when the
    * interval set covers a sliver of the domain — at sf10 that is 60M
    * lineitems exchanged to match a 34-day window (~1% can match), and
    * at 100 TB a corpus-scale exchange for metadata-scale selectivity
    * the engine knows at run time. The fix is the `InjectRuntimeFilter`
    * idiom: [[IntervalBuckets.intervalStats]]'s subquery applied on
    * the points side BELOW the bucket exchange as
    *
    *   `pt BETWEEN lo AND hi  AND  might_contain(bf, xxhash64(pt div w))`.
    *
    * The min/max BETWEEN alone is the r11 form, and it is global-only:
    * two narrow interval clusters at opposite ends of the domain widen
    * the bounds to cover everything and the prune goes inert (VERDICT
    * r11 #3). The bloom over exploded bucket ids (≤ 2×|intervals| keys
    * by the cost model above) prunes those interior gaps too: a point
    * whose bucket id no interval overlaps cannot equi-join, and the
    * bloom answers that map-side in O(1) per point. Skipped when
    * the interval plan is nondeterministic: the subquery would
    * re-execute it and could prune against a different draw than the
    * join sees. */
  private def pointPrune(r: LogicalPlan, pt: Expression,
      lo: Expression, hi: Expression, width: Long): Option[Expression] = {
    if (!isDeterministic(r)) return None
    val st = intervalStats(r, lo, hi, width, conf.sessionLocalTimeZone, conf)
    Some(And(
      And(GreaterThanOrEqual(pt, st.lo), LessThanOrEqual(pt, st.hi)),
      st.mightContainBucket(bucketOf(pt, width))))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case rj @ RangeJoinPlan(l, r, pt, lo, hi, width) =>
      // points side: runtime bounds+bloom prune below the exchange,
      // then one bucket per surviving row
      val lPruned = pointPrune(r, pt, lo, hi, width)
        .map(Filter(_, l)).getOrElse(l)
      val ptBucket = Alias(bucketOf(pt, width), "__pt_bucket")()
      val lProj = Project(l.output :+ ptBucket, lPruned)

      // intervals side: explode to every overlapped bucket; NULL or
      // inverted bounds yield a NULL array, which Explode drops
      val ivBucket =
        AttributeReference("__iv_bucket", LongType, nullable = false)()
      val gen = Generate(
        Explode(bucketSeqOf(lo, hi, width, conf.sessionLocalTimeZone)),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(ivBucket),
        child = r)

      // equi-join on bucket + exact range residual
      val cond = And(
        EqualTo(ptBucket.toAttribute, ivBucket),
        And(GreaterThanOrEqual(pt, lo), LessThanOrEqual(pt, hi)))
      Project(rj.output, Join(lProj, gen, Inner, Some(cond), JoinHint.NONE))
  }
}
