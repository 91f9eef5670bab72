package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Custom logical operator: interval-OVERLAP join
  * `left ⋈ right ON l.lo <= r.hi AND r.lo <= l.hi` (all four LONG,
  * inclusive overlap) — the interval×interval join [[RangeJoinPlan]]'s
  * point-in-interval node cannot express. Spark again has no equi-key
  * to extract, so the naive form plans as a nested-loop pair scan;
  * [[ExpandOverlapJoin]] rewrites it to the same bucket trick applied
  * to BOTH sides: each interval explodes to every `bucketWidth` bucket
  * it overlaps, the join is EQUI on the bucket id with the exact
  * overlap predicate as residual, and duplicate pairs are eliminated
  * WITHOUT a distinct by bucket OWNERSHIP — a truly-overlapping pair
  * shares every bucket in the intersection of its bucket ranges, and
  * exactly one of those is `max(l.lo, r.lo) div width` (truncating
  * division is monotone, so that equals
  * `greatest(l.lo div w, r.lo div w)`); the join keeps a pair only in
  * that bucket. No shuffle-wide dedup, no pair blow-up beyond bucket
  * collision rate; each side's exploded size is `Σ ceil(len/width)+1`
  * ≤ 2× its row count at `width ≥` max interval length.
  *
  * Semantics: INNER join, overlap inclusive on both ends. NULL or
  * inverted (`hi < lo`) intervals on EITHER side produce no bucket
  * rows — they never match. NOTE this is a deliberate semantic choice,
  * not a consequence of the predicate: unlike the point predicate
  * (unsatisfiable when `hi < lo`), the raw overlap theta IS
  * satisfiable by an inverted interval nested inside the other side
  * (l=[10,4] vs r=[0,20]) — here an inverted interval denotes the
  * empty set and overlaps nothing (PropertySpec pins the divergence).
  *
  * Orientation contract (mirrors [[RangeJoinPlan]]'s points side):
  * pass the CORPUS-SCALE side as `left` — the runtime prune filters
  * the left side using one metadata-scale subquery over the right, so
  * the right side should be the smaller frame. A misoriented call is
  * GUARDED, not trusted (VERDICT r13 #7): [[ExpandOverlapJoin]]
  * auto-swaps the roles when the right side's size estimate is ≥10×
  * the left's — legal because the predicate and ownership dedup are
  * symmetric and the output projection restores column order. */
final case class OverlapJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    lLo: Expression,
    lHi: Expression,
    rLo: Expression,
    rHi: Expression,
    bucketWidth: Long)
  extends BinaryNode {
  require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): OverlapJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule expanding [[OverlapJoinPlan]] into bucketed-equi-join
  * form with a left-side runtime prune. Registered via
  * [[graft.GraftExtensions]] and auto-added by
  * [[graft.operators.Temporal.overlapJoin]] (idempotent).
  *
  * The prune is [[ExpandRangeJoin]]'s points prune generalized to an
  * interval probe: ONE scalar subquery over the right side's exploded
  * frame ([[IntervalBuckets.intervalStats]]) feeds
  *
  *  - a PRE-explode bounds filter on the left —
  *    `l.lo <= max(r.hi) AND l.hi >= min(r.lo)` (an interval can only
  *    overlap the right set if it overlaps the set's hull), and
  *  - a POST-explode (still below the exchange) bucket-id bloom —
  *    `might_contain(bf, xxhash64(l_bucket))`: a left bucket row whose
  *    bucket no right interval overlaps cannot equi-join, answered
  *    map-side in O(1).
  *
  * Both prune predicates read the SAME subquery instance, so
  * `ReuseSubquery` runs the aggregate once. Bounds-only catches the
  * hull case (right set narrow in time); the bloom catches the
  * sparse-but-wide case where the hull covers everything but ~all
  * interior buckets are empty (the q_range_join_sparse failure mode).
  * Skipped when the right plan is nondeterministic. */
object ExpandOverlapJoin extends Rule[LogicalPlan] {
  import IntervalBuckets._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case oj @ OverlapJoinPlan(l0, r0, lLo0, lHi0, rLo0, rHi0, width) =>
      val tz = conf.sessionLocalTimeZone
      // Misorientation guard (VERDICT r13 #7): the prune filters the
      // LEFT side with one metadata-scale subquery over the RIGHT, so a
      // swapped call (corpus passed as right) would ship the corpus
      // through the unpruned explode. The overlap predicate and the
      // ownership dedup are symmetric and the trailing Project restores
      // `oj.output`, so when size estimates say the right side is ≥10×
      // the left, swap the roles internally — result and schema are
      // unchanged (OverlapJoinSpec pins both).
      val swap = r0.stats.sizeInBytes > l0.stats.sizeInBytes * 10
      val (l, r, lLo, lHi, rLo, rHi) =
        if (swap) (r0, l0, rLo0, rHi0, lLo0, lHi0)
        else (l0, r0, lLo0, lHi0, rLo0, rHi0)
      val stats =
        if (!isDeterministic(r)) None
        else Some(intervalStats(r, rLo, rHi, width, tz, conf))

      // left side: hull bounds BEFORE the explode (cheapest point),
      // bucket-id bloom after it (the bucket id only exists then),
      // both below the exchange
      val lBase = stats
        .map(st => Filter(And(
          LessThanOrEqual(lLo, st.hi), GreaterThanOrEqual(lHi, st.lo)), l))
        .getOrElse(l)
      val lBkt = AttributeReference("__l_bucket", LongType, nullable = false)()
      val lGen = Generate(
        Explode(bucketSeqOf(lLo, lHi, width, tz)),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(lBkt),
        child = lBase)
      val lPruned = stats
        .map(st => Filter(st.mightContainBucket(lBkt), lGen)).getOrElse(lGen)

      // right side: explode to every overlapped bucket, unpruned
      val rBkt = AttributeReference("__r_bucket", LongType, nullable = false)()
      val rGen = Generate(
        Explode(bucketSeqOf(rLo, rHi, width, tz)),
        unrequiredChildIndex = Nil,
        outer = false,
        qualifier = None,
        generatorOutput = Seq(rBkt),
        child = r)

      // equi-join on bucket + exact overlap residual + ownership dedup
      val cond = And(
        EqualTo(lBkt, rBkt),
        And(
          And(LessThanOrEqual(lLo, rHi), LessThanOrEqual(rLo, lHi)),
          EqualTo(lBkt, Greatest(Seq(
            bucketOf(lLo, width), bucketOf(rLo, width))))))
      Project(oj.output, Join(lPruned, rGen, Inner, Some(cond), JoinHint.NONE))
  }
}
