package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (int8) vector quantization — the memory-compression path for
  * serving embeddings at scale: a float64 dim costs 8 bytes, an int8
  * code 1 byte, so a cached/served 100 TB corpus shrinks ~8× at a small
  * recall cost (QuantizeSpec pins it).
  *
  * Scheme: symmetric per-vector scaling — `s = max|x| / 127`,
  * `code_i = clamp(floor(x_i/s + 0.5), −127, 127)`, dequantize
  * `x̂_i = code_i·s`. `floor(x + 0.5)` is deliberate: it is
  * round-half-UP, identical in every engine, while `round()` is
  * banker's-rounding in some engines and not others — the difference
  * would break oracle parity on exact .5 boundaries.
  *
  * All ops are per-row projections (no shuffle). The scale subexpression
  * is referenced from inside the `transform` lambda, so after
  * `CollapseProject` the per-row cost is O(dim²) multiply-adds — 4k
  * flops at dim 64, negligible for a once-per-corpus compression pass
  * (unlike the round-1 per-PAIR norm recompute, which sat inside the
  * O(N·M) search loop). */
object Quantize {

  /** `max|x| / 127` — the per-vector symmetric scale. */
  def scaleOf(vec: Column): Column =
    array_max(transform(vec, x => abs(x))) / 127.0

  /** Integral-valued DOUBLE codes in [−127, 127] (kept double so the
    * engine-portable `floor`/`least`/`greatest` chain needs no casts;
    * store as TINYINT at rest). Zero vectors quantize to all-zero. */
  def codes(vec: Column): Column = {
    val s = scaleOf(vec)
    when(s > 0.0,
      transform(vec, x => greatest(least(floor(x / s + 0.5), lit(127.0)), lit(-127.0))))
      .otherwise(transform(vec, _ => lit(0.0)))
  }

  /** Quantize a vector column in place (codes + scale columns added;
    * original column replaced by the reconstruction) — the form a recall
    * test or a quantized search path consumes. */
  def quantizeColumn(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("qscale", scaleOf(col(vecCol)))
      .withColumn("qcodes", codes(col(vecCol)))
      .withColumn(vecCol, transform(col("qcodes"), c => c * col("qscale")))
}
