package graft

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Metric, VectorFunctions => VF}
import graft.operators.VectorSearch

/** One vector row, typed. */
final case class VectorRecord(vec_id: Long, embedding: Seq[Double])

/** One scored search hit, typed. */
final case class ScoredNeighbor(vec_id: Long, score: Double)

/** Typed `Dataset[T]` facade over [[VectorTable]] — compile-time row
  * shapes for the core vector ops (the "use `Dataset[T]` where type
  * safety helps" surface). Deliberately THIN: every method delegates to
  * the same Column-level plans as the untyped API and only converts the
  * boundary with encoders. No typed `map`/`filter` lambdas anywhere —
  * a lambda is an opaque function to Catalyst (kills codegen kernels,
  * filter pushdown, and column pruning), so the typed layer must never
  * trade the optimized plan for ergonomics. TypedVectorTableSpec pins
  * plan-parity with the untyped paths.
  */
final class TypedVectorTable(val ds: Dataset[VectorRecord], val config: VectorTableConfig) {

  private def spark: SparkSession = ds.sparkSession

  def metric: Metric = Metric.fromName(config.metric)

  /** Untyped view (same plan — `Dataset[T]` IS a DataFrame with an
    * encoder). */
  def toTable: VectorTable = VectorTable(ds.toDF(), config)

  /** O1 insert, typed: same per-row in-plan dim guard as the untyped
    * path. */
  def insert(rows: Dataset[VectorRecord]): TypedVectorTable =
    TypedVectorTable(toTable.insert(rows.toDF()), spark)

  /** O9 search against a literal query vector, typed result. The query
    * is a constant 1-row frame, so it is evaluated on the driver and
    * scored as a literal inside the corpus scan (any other query frame is
    * broadcast, [[VectorSearch.scoreAgainst]]). */
  def search(query: Seq[Double], k: Int): Dataset[ScoredNeighbor] = {
    val q = spark.range(1).select(typedlit(query).as("__qvec"))
    VectorSearch.topK(ds.toDF(), config.vecCol, config.idCol, q, "__qvec", metric, k)
      .select(col(config.idCol).as("vec_id"), col("score"))
      .as(Encoders.product[ScoredNeighbor])
  }

  /** O4 L2-normalize, typed — still the single codegen kernel. */
  def normalized: TypedVectorTable =
    new TypedVectorTable(
      ds.toDF()
        .withColumn(config.vecCol, VF.l2Normalize(col(config.vecCol)))
        .as(Encoders.product[VectorRecord]),
      config)
}

object TypedVectorTable {

  /** Wrap an untyped table: selects the (id, vector) columns into the
    * typed shape. Extra metadata columns stay behind on the untyped
    * table — the typed record is the stable core schema. */
  def apply(table: VectorTable, spark: SparkSession): TypedVectorTable = {
    val ds = table.df
      .select(
        col(table.config.idCol).cast("long").as("vec_id"),
        col(table.config.vecCol).as("embedding"))
      .as(Encoders.product[VectorRecord])
    new TypedVectorTable(ds, table.config.copy(idCol = "vec_id", vecCol = "embedding"))
  }
}
