package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.Temporal

/** Temporal.overlapJoin (interval×interval): result parity with the
  * naive theta-join, the bucket-ownership dedup (no duplicate pairs at
  * ANY width), boundary/degenerate semantics, and the plan-shape claim
  * (bucketed equi-join, not a nested-loop pair scan). */
class OverlapJoinSpec extends SparkSpec {
  import spark.implicits._

  // overlapping lattice: many multi-bucket and touching intervals
  private def lhs: DataFrame =
    spark.range(0, 60).select(
      (col("id") * 17 % 499).as("a_lo"),
      (col("id") * 17 % 499 + col("id") % 23).as("a_hi"),
      col("id").as("aid"))

  private def rhs: DataFrame =
    spark.range(0, 80).select(
      (col("id") * 13 % 487).as("b_lo"),
      (col("id") * 13 % 487 + col("id") % 31).as("b_hi"),
      col("id").as("bid"))

  private def naive(l: DataFrame, r: DataFrame): Set[(Long, Long)] =
    l.join(r, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet

  private def via(l: DataFrame, r: DataFrame, width: Long): Seq[(Long, Long)] =
    Temporal.overlapJoin(l, "a_lo", "a_hi", r, "b_lo", "b_hi", width)
      .select("aid", "bid").as[(Long, Long)].collect().toSeq

  test("overlapJoin matches the naive theta-join, no duplicate pairs, at several widths") {
    val expected = naive(lhs, rhs)
    assert(expected.nonEmpty)
    for (w <- Seq(1L, 7L, 32L, 1000L)) {
      val got = via(lhs, rhs, w)
      assert(got.length === got.toSet.size, s"width $w produced duplicate pairs")
      assert(got.toSet === expected, s"width $w lost/invented pairs")
    }
  }

  test("touching endpoints overlap (inclusive both sides)") {
    val l = Seq((0L, 10L, 1L)).toDF("a_lo", "a_hi", "aid")
    val r = Seq((10L, 20L, 7L), (21L, 30L, 8L)).toDF("b_lo", "b_hi", "bid")
    assert(via(l, r, 16).toSet === Set((1L, 7L)))
  }

  test("NULL and inverted intervals on either side never match") {
    val l = spark.sql(
      """SELECT * FROM VALUES (0L, 100L, 1L), (50L, 40L, 2L),
        |(CAST(NULL AS LONG), 9L, 3L) AS t(a_lo, a_hi, aid)""".stripMargin)
    val r = spark.sql(
      """SELECT * FROM VALUES (5L, 6L, 1L), (9L, 2L, 2L),
        |(3L, CAST(NULL AS LONG), 3L) AS t(b_lo, b_hi, bid)""".stripMargin)
    assert(via(l, r, 10).toSet === Set((1L, 1L)))
  }

  test("negative domains stay exact (truncating division is monotone)") {
    val l = spark.range(0, 40).select(
      (col("id") * 11 - 220).as("a_lo"),
      (col("id") * 11 - 220 + 6).as("a_hi"),
      col("id").as("aid"))
    val r = spark.range(0, 40).select(
      (col("id") * 9 - 180).as("b_lo"),
      (col("id") * 9 - 180 + 4).as("b_hi"),
      col("id").as("bid"))
    val got = via(l, r, 8)
    assert(got.length === got.toSet.size)
    assert(got.toSet === naive(l, r))
  }

  test("inputs owning the reserved helper names __l_bucket/__r_bucket survive intact") {
    // withColumn REPLACES an existing same-named column, so a fixed
    // helper name would clobber (then drop) user data — the helper
    // names must be derived fresh against both inputs.
    val l = lhs.withColumn("__l_bucket", col("aid") * 100)
    val r = rhs.withColumn("__r_bucket", col("bid") * 100)
    val got = Temporal.overlapJoin(l, "a_lo", "a_hi", r, "b_lo", "b_hi", 16)
    assert(got.columns.count(_ == "__l_bucket") === 1)
    assert(got.columns.count(_ == "__r_bucket") === 1)
    val rows = got.select("aid", "bid", "__l_bucket", "__r_bucket")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (a, b, lv, rv) => lv == a * 100 && rv == b * 100 },
      "user-owned __l_bucket/__r_bucket values were clobbered")
    assert(rows.map(t => (t._1, t._2)).toSet === naive(lhs, rhs))
  }

  test("plan is a bucketed equi-join: no nested-loop, no cartesian, two Generates") {
    val df = Temporal.overlapJoin(lhs, "a_lo", "a_hi", rhs, "b_lo", "b_hi", 16)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("left-side prune carries the hull bounds AND the bucket-id bloom") {
    val df = Temporal.overlapJoin(lhs, "a_lo", "a_hi", rhs, "b_lo", "b_hi", 16)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("might_contain"), plan)
    assert(plan.contains("bloom_filter_agg"), plan)
  }

  test("sparse-but-wide right set (two clusters at opposite domain ends) stays exact") {
    // the hull-bounds failure mode: right intervals at both ends of the
    // domain widen min/max to cover every left row; the bucket bloom
    // must neither drop true matches nor duplicate pairs
    val l = spark.range(0, 3000).select(
      (col("id") * 2).as("a_lo"), (col("id") * 2 + 1).as("a_hi"),
      col("id").as("aid"))
    val r = spark.sql(
      """SELECT * FROM VALUES (0L, 40L, 1L), (30L, 90L, 2L),
        |(5900L, 5950L, 3L), (5980L, 5999L, 4L) AS t(b_lo, b_hi, bid)""".stripMargin)
    val got = Temporal.overlapJoin(l, "a_lo", "a_hi", r, "b_lo", "b_hi", 64)
      .select("aid", "bid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size, "duplicate pairs")
    assert(got.toSet === naive(l, r))
  }

  test("empty right frame prunes every left row and returns zero rows") {
    val emptyR = rhs.filter(col("bid") < 0)
    assert(via(lhs, emptyR, 16).isEmpty)
  }

  test("misoriented call (corpus passed as RIGHT) auto-swaps: the big side gets the prune") {
    // VERDICT r13 #7: without the guard, a swapped call ships the
    // corpus through the unpruned right explode. The rule swaps roles
    // when right's size estimate is ≥10× left's; the hull filter must
    // land on the BIG side's columns, and result + column order must be
    // identical to the unswapped semantics.
    val small = spark.sql(
      """SELECT * FROM VALUES (10L, 40L, 1L), (900L, 950L, 2L)
        |AS t(a_lo, a_hi, aid)""".stripMargin)
    val big = spark.range(0, 5000).select(
      (col("id") * 2).as("b_lo"), (col("id") * 2 + 1).as("b_hi"),
      col("id").as("bid"))
    val df = Temporal.overlapJoin(small, "a_lo", "a_hi", big, "b_lo", "b_hi", 64)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("""b_lo#\d+L? <= Subquery""".r.findFirstIn(plan).isDefined,
      s"hull filter should sit on the big (right-passed) side:\n$plan")
    assert(df.columns.toSeq === Seq("a_lo", "a_hi", "aid", "b_lo", "b_hi", "bid"))
    val got = df.select("aid", "bid").as[(Long, Long)].collect()
    assert(got.length === got.toSet.size)
    val expected = small
      .join(big, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("aid", "bid").as[(Long, Long)].collect().toSet
    assert(got.toSet === expected)
  }
}
