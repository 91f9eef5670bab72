package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, Max, Min}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Bucket math of [[ExpandOverlapJoin]]: the bucket explode of an
  * interval frame and the one-subquery min/max/bloom statistics of
  * one. */
private[plans] object IntervalBuckets {

  def bucketOf(e: Expression, width: Long): Expression =
    IntegralDivide(e, Literal(width, LongType))

  /** The buckets an interval `[lo, hi]` overlaps, as a LONG array;
    * NULL or inverted bounds yield a NULL array (Explode drops it).
    * Sequence is TimeZoneAwareExpression — it is only `resolved` with
    * a timeZoneId bound, even for LONG sequences. */
  private def bucketSeqOf(lo: Expression, hi: Expression, width: Long,
      tz: String): Expression =
    If(
      GreaterThanOrEqual(hi, lo),
      new Sequence(
        bucketOf(lo, width), bucketOf(hi, width),
        Some(Literal(1L, LongType)), Some(tz)),
      Literal.create(null, ArrayType(LongType, containsNull = false)))

  /** `child` with one row per bucket its interval `[lo, hi]` overlaps,
    * the bucket id in a new LONG column `name`
    * (`generatorOutput.head`); NULL or inverted intervals yield no
    * rows. */
  def explodeBuckets(child: LogicalPlan, lo: Expression, hi: Expression,
      width: Long, tz: String, name: String): Generate =
    Generate(
      Explode(bucketSeqOf(lo, hi, width, tz)),
      unrequiredChildIndex = Nil,
      outer = false,
      qualifier = None,
      generatorOutput = Seq(AttributeReference(name, LongType, nullable = false)()),
      child = child)

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
    val exploded = explodeBuckets(slim, lo, hi, width, tz, "__iv_stats_bucket")
    val bkt = exploded.generatorOutput.head
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

/** Custom logical operator: interval-OVERLAP join
  * `left ⋈ right ON l.lo <= r.hi AND r.lo <= l.hi` (all four LONG,
  * inclusive overlap), and through it the point-in-interval range join:
  * a point is the interval [pt, pt], so `lo <= pt <= hi` is the overlap
  * predicate with `l.lo = l.hi = pt`.
  *
  * Why a custom node: Spark has no equi-key to extract from a pure
  * range predicate, so `ExtractEquiJoinKeys` fails and the planner falls
  * back to `BroadcastNestedLoopJoin` / `CartesianProduct` — an O(n·m)
  * pair scan. The node carries the overlap semantics through analysis
  * untouched; [[ExpandOverlapJoin]] then rewrites it to the bucket
  * trick applied to BOTH sides: each interval explodes to every
  * `bucketWidth` bucket it overlaps (a point to its one bucket), the
  * join is EQUI on the bucket id with the exact overlap predicate as
  * residual, and duplicate pairs are eliminated WITHOUT a distinct by
  * bucket OWNERSHIP — a truly-overlapping pair shares every bucket in
  * the intersection of its bucket ranges, and exactly one of those is
  * `max(l.lo, r.lo) div width` (truncating division is monotone, so
  * that equals `greatest(l.lo div w, r.lo div w)`); the join keeps a
  * pair only in that bucket. No shuffle-wide dedup, no pair blow-up
  * beyond bucket collision rate; each side's exploded size is
  * `Σ ceil(len/width)+1` ≤ 2× its row count at `width ≥` max interval
  * length.
  *
  * Semantics: INNER join, overlap inclusive on both ends. NULL or
  * inverted (`hi < lo`) intervals on EITHER side produce no bucket
  * rows — they never match, and a NULL point is the NULL interval.
  * NOTE this is a deliberate semantic choice, not a consequence of the
  * predicate: unlike the point predicate (unsatisfiable when
  * `hi < lo`), the raw overlap theta IS satisfiable by an inverted
  * interval nested inside the other side (l=[10,4] vs r=[0,20]) — here
  * an inverted interval denotes the empty set and overlaps nothing
  * (PropertySpec pins the divergence). Bucket 0 spans `(-width, width)`
  * because integral division truncates toward zero — a constant-factor
  * quirk around zero, not a correctness one.
  *
  * Orientation contract: pass the CORPUS-SCALE side as `left` (the
  * points of a range join) — the runtime prune filters the left side
  * using one metadata-scale subquery over the right, so the right side
  * should be the smaller frame. A misoriented call is GUARDED, not
  * trusted (VERDICT r13 #7): [[ExpandOverlapJoin]] auto-swaps the roles
  * when the right side's size estimate is ≥10× the left's — legal
  * because the predicate and ownership dedup are symmetric and the
  * output projection restores column order. */
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
  * form with a left-side runtime prune — the one interval rule; a range
  * join reaches it as the overlap join of the points [pt, pt].
  * Registered via [[graft.GraftExtensions]] and auto-added by
  * [[graft.operators.Temporal.overlapJoin]] (idempotent).
  *
  * Without the prune the rewrite buckets and SHUFFLES every left row
  * even when the right set covers a sliver of the domain (at sf10, 60M
  * lineitems exchanged to match a 34-day window). The fix is the
  * `InjectRuntimeFilter` idiom: ONE scalar subquery over the right
  * side's exploded frame ([[IntervalBuckets.intervalStats]]) feeds
  *
  *  - a PRE-explode bounds filter on the left —
  *    `l.lo <= max(r.hi) AND l.hi >= min(r.lo)` (an interval can only
  *    overlap the right set if it overlaps the set's hull; for a point,
  *    `pt BETWEEN min(lo) AND max(hi)`), and
  *  - a POST-explode (still below the exchange) bucket-id bloom —
  *    `might_contain(bf, xxhash64(l_bucket))`: a left bucket row whose
  *    bucket no right interval overlaps cannot equi-join, answered
  *    map-side in O(1).
  *
  * Both prune predicates read the SAME subquery instance, so
  * `ReuseSubquery` runs the aggregate once. Bounds-only catches the
  * hull case (right set narrow in time); the bloom catches the
  * sparse-but-wide case where the hull covers everything but ~all
  * interior buckets are empty (the `_sparse` rows' failure mode).
  * Skipped when the right plan is nondeterministic: the subquery would
  * re-execute it and could prune against a different draw than the
  * join sees. */
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
      val lGen = explodeBuckets(lBase, lLo, lHi, width, tz, "__l_bucket")
      val lBkt = lGen.generatorOutput.head
      val lPruned = stats
        .map(st => Filter(st.mightContainBucket(lBkt), lGen)).getOrElse(lGen)

      // right side: explode to every overlapped bucket, unpruned
      val rGen = explodeBuckets(r, rLo, rHi, width, tz, "__r_bucket")
      val rBkt = rGen.generatorOutput.head

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
