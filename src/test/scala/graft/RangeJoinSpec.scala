package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ExtensionsSessionGlue

import graft.operators.Temporal

/** Temporal.rangeJoin — the overlap join of the points [pt, pt] with the
  * intervals (a point is the interval [pt, pt]; one custom node, one
  * rule): result parity with the naive theta-join, boundary/degenerate
  * semantics, the misorientation swap, and the plan-shape claim
  * (bucketed equi-join, NOT a nested-loop pair scan). */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def points: DataFrame =
    spark.range(0, 400).select((col("id") * 7 % 997).as("pt"), col("id").as("pid"))

  private def intervals: DataFrame =
    spark.range(0, 50).select(
      (col("id") * 20).as("lo"),
      (col("id") * 20 + 15).as("hi"),
      col("id").as("iid"))

  private def naive(p: DataFrame, iv: DataFrame): Set[(Long, Long)] =
    p.join(iv, col("pt") >= col("lo") && col("pt") <= col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet

  private def viaRule(p: DataFrame, iv: DataFrame, width: Long): Set[(Long, Long)] =
    Temporal.rangeJoin(p, "pt", iv, "lo", "hi", width)
      .select("pid", "iid").as[(Long, Long)].collect().toSet

  test("rangeJoin matches the naive theta-join") {
    val expected = naive(points, intervals)
    assert(expected.nonEmpty)
    assert(viaRule(points, intervals, 16) === expected)
  }

  test("width smaller than the interval length still exact (multi-bucket intervals, no duplicate pairs)") {
    val got = Temporal.rangeJoin(points, "pt", intervals, "lo", "hi", 4)
      .select("pid", "iid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "each matching pair must appear exactly once")
    assert(got.toSet === naive(points, intervals))
  }

  test("bounds are inclusive on both ends") {
    val p = Seq((10L, 1L), (20L, 2L), (9L, 3L), (21L, 4L)).toDF("pt", "pid")
    val iv = Seq((10L, 20L, 7L)).toDF("lo", "hi", "iid")
    assert(viaRule(p, iv, 100) === Set((1L, 7L), (2L, 7L)))
  }

  test("inverted and NULL interval bounds produce no rows; NULL points never match") {
    val p = spark.sql("SELECT * FROM VALUES (5L, 1L), (CAST(NULL AS LONG), 2L) AS t(pt, pid)")
    val iv = spark.sql(
      """SELECT * FROM VALUES (1L, 9L, 1L), (9L, 1L, 2L),
        |(CAST(NULL AS LONG), 9L, 3L), (1L, CAST(NULL AS LONG), 4L) AS t(lo, hi, iid)""".stripMargin)
    assert(viaRule(p, iv, 10) === Set((1L, 1L)))
  }

  test("negative domains bucket correctly (truncating division is monotone)") {
    val p = spark.range(0, 200).select((col("id") * 13 - 1300).as("pt"), col("id").as("pid"))
    val iv = spark.range(0, 40).select(
      (col("id") * 60 - 1250).as("lo"),
      (col("id") * 60 - 1250 + 45).as("hi"),
      col("id").as("iid"))
    assert(viaRule(p, iv, 64) === naive(p, iv))
  }

  test("self-range-join from one source gets disjoint attribute ids") {
    val base = spark.range(0, 100).select((col("id") * 3).as("v"), col("id").as("k"))
    val p = base.select(col("v").as("pt"), col("k").as("pid"))
    val iv = base.select(col("v").as("lo"), (col("v") + 4).as("hi"), col("k").as("iid"))
    val got = viaRule(p, iv, 8)
    val expected = naive(p, iv)
    assert(got === expected && got.nonEmpty)
  }

  test("plan is a bucketed equi-join: no nested-loop, no cartesian, one Generate") {
    spark.catalog.clearCache()
    val df = Temporal.rangeJoin(points, "pt", intervals, "lo", "hi", 16)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("Join"), plan)
  }

  test("points-side prune carries the bucket-id bloom, not just global bounds") {
    val df = Temporal.rangeJoin(points, "pt", intervals, "lo", "hi", 16)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("bloom_filter_agg"), plan)
  }

  test("sparse-but-wide intervals (two clusters at opposite domain ends) stay exact") {
    // the documented failure mode of the r11 global-min/max prune: the
    // bounds widen to cover the whole domain; the bucket-id bloom must
    // neither drop true matches nor duplicate pairs
    val p = spark.range(0, 5000).select(col("id").as("pt"), col("id").as("pid"))
    val iv = spark.sql(
      """SELECT * FROM VALUES (0L, 30L, 1L), (10L, 45L, 2L),
        |(4950L, 4980L, 3L), (4990L, 4999L, 4L) AS t(lo, hi, iid)""".stripMargin)
    val got = Temporal.rangeJoin(p, "pt", iv, "lo", "hi", 64)
      .select("pid", "iid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "each matching pair must appear exactly once")
    assert(got.toSet === naive(p, iv))
  }

  test("bloom expected-items conf is honored without changing results (tiny and huge capacity)") {
    val expected = naive(points, intervals)
    // capacity only tunes the false-positive rate — exactness lives in
    // the join residual, so results must be identical at any setting.
    // BloomFilterAggregate clamps the expected-items estimate to Spark's
    // maxNumItems, so a cap of 4 forces a tiny, saturated bloom.
    val maxItems = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    for (cap <- Seq("4", "50000000")) {
      spark.conf.set(maxItems, cap)
      try {
        val df = Temporal.rangeJoin(points, "pt", intervals, "lo", "hi", 16)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        assert(plan.contains("might_contain"), plan)
        assert(df.select("pid", "iid").as[(Long, Long)].collect().toSet === expected)
      } finally spark.conf.unset(maxItems)
    }
  }

  test("empty interval frame prunes every point and returns zero rows") {
    val emptyIv = intervals.filter(col("iid") < 0)
    assert(viaRule(points, emptyIv, 16) === Set.empty)
  }

  test("interval side >= 10x the points: exact rows, and the bloom prune moves to the intervals") {
    val p = spark.range(0, 30).select((col("id") * 37 % 1000).as("pt"), col("id").as("pid"))
    val iv = spark.range(0, 3000).select(
      (col("id") * 7 % 1000).as("lo"),
      (col("id") * 7 % 1000 + col("id") % 20).as("hi"),
      col("id").as("iid"))
    val df = Temporal.rangeJoin(p, "pt", iv, "lo", "hi", 16)
    val got = df.select("pid", "iid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "each matching pair must appear exactly once")
    val expected = naive(p, iv)
    assert(expected.nonEmpty && got.toSet === expected)
    assert(df.columns.toSeq === Seq("pt", "pid", "lo", "hi", "iid"))
    // the swap filters the big side: every bloom probe reads an interval
    // row, none a point row
    val probed = df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) =>
        f.output.map(_.name).toSet
    }
    assert(probed.nonEmpty && probed.forall(c => c("iid") && !c("pid")),
      s"bloom prune not on the interval side:\n${df.queryExecution.optimizedPlan}")
  }

  test("in a session built with spark.sql.extensions=graft.GraftExtensions: exact rows, no pair scan") {
    ExtensionsSessionGlue.withExtensionsSession(spark, "graft.GraftExtensions") { s =>
      // the injected kernels resolve: the extension was applied
      assert(s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) === 11.0)
      val p = s.range(0, 400).select((col("id") * 7 % 997).as("pt"), col("id").as("pid"))
      val iv = s.range(0, 50).select(
        (col("id") * 20).as("lo"), (col("id") * 20 + 15).as("hi"), col("id").as("iid"))
      val df = Temporal.rangeJoin(p, "pt", iv, "lo", "hi", 16)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
      val got = df.select("pid", "iid").as[(Long, Long)].collect()
      assert(got.length === got.toSet.size)
      assert(got.toSet === naive(p, iv) && got.nonEmpty)
    }
  }
}
