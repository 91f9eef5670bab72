package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftglue.FunctionGlue

import graft.expressions.TextExpressions.TextRepetitionStats
import graft.expressions.VectorExpressions._

/** SQL surface for the vector kernels: `vec_dot`, `vec_cosine`,
  * `vec_l2_normalize`, `vec_euclidean_distance` become callable from
  * `spark.sql(...)`, so SQL-only users get the same codegen kernels the
  * DataFrame API uses.
  *
  * Two registration paths:
  *  - [[GraftExtensions]] for session startup:
  *    `spark.sql.extensions=graft.GraftExtensions` or
  *    `SparkSession.builder.withExtensions(new GraftExtensions)`.
  *  - [[GraftFunctions.register]] for an already-running session.
  */
object GraftFunctions {

  /** (name, arity, implementing class, builder) for every SQL-exposed
    * kernel — the class feeds each function's `ExpressionInfo`, so
    * `DESCRIBE FUNCTION` reports the right implementation. */
  val all: Seq[(String, Int, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", 2, classOf[VecDot], es => VecDot(es(0), es(1))),
    ("vec_cosine", 2, classOf[VecCosine], es => VecCosine(es(0), es(1))),
    ("vec_l2_normalize", 1, classOf[VecL2Normalize], es => VecL2Normalize(es(0))),
    ("vec_euclidean_distance", 2, classOf[VecEuclideanDistance],
      es => VecEuclideanDistance(es(0), es(1))),
    // libm-parity natural log (Spark's ln is StrictMath — 1 ULP off on
    // some inputs); exposed so SQL users writing oracle-parity formulas
    // (e.g. BM25 idf) get the same kernel the DataFrame API uses
    ("platform_ln", 1, classOf[PlatformLn], es => PlatformLn(es(0))),
    // one-pass repetition counters (struct) — the q_repetition kernel
    ("text_repetition_stats", 1, classOf[TextRepetitionStats],
      es => TextRepetitionStats(es(0))))

  /** `builder` behind an arity check — the form both registration
    * paths install. */
  private[graft] def checkedBuilder(
      name: String, arity: Int,
      builder: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.length == arity,
        s"$name expects $arity argument(s), got ${es.length}")
      builder(es)
    }

  /** Register the kernels as temp functions on a live session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, arity, _, builder) =>
      FunctionGlue.registerTemp(spark, name, checkedBuilder(name, arity, builder))
    }
}

/** `spark.sql.extensions` entry point injecting the vector kernels and
  * the [[graft.plans.ExpandOverlapJoin]] optimizer rule, which expands
  * the custom [[graft.plans.OverlapJoinPlan]] node into its bucketed
  * equi-join form — the one interval join: a range join's point is the
  * interval [pt, pt]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, arity, clazz, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        GraftFunctions.checkedBuilder(name, arity, builder)))
    }
    ext.injectOptimizerRule(_ => graft.plans.ExpandOverlapJoin)
  }
}
