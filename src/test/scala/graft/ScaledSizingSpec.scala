package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The count-derived index-sizing rules (bits/cells/ksub/mod) are
  * computed independently in Scala and in DuckDB — each rule's SQL form
  * is defined once, beside its Scala rule in Queries (`ScaledLshBitsSql`,
  * `ScaledIvfCellsSql`, `ScaledPqKsubSql`, `ScaledEvalModSql`), and every
  * scaled oracle uses it; the hash gate checks their equality only at
  * the three fixture sizes. This spec pins the equality over the whole Long range
  * by re-implementing the DuckDB integer forms verbatim
  * (`length(bin(x))`, `//`, GREATEST/LEAST) and property-checking them
  * against the Scala rules — a clamp-order or off-by-one bug at an
  * unfixture-sized N (2^k boundaries, N < 50, N > 4096²) would
  * otherwise surface only as an sf10 hash mismatch hours into a gate. */
class ScaledSizingSpec extends AnyFunSuite {

  /** Materialize `n` samples of `g` deterministically (the
    * PropertySpec sampler). */
  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    LazyList.iterate(Seed(seed))(_.next).take(n)
      .flatMap(s => g.apply(Gen.Parameters.default, s)).toList

  /** DuckDB `length(bin(x))` for x ≥ 0: bin(0) = "0" (length 1). */
  private def lengthBin(x: Long): Int =
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(x))

  /** Queries.ScaledLshBitsSql:
    * GREATEST(1, LEAST(20, length(bin(GREATEST(1, n // 50) - 1)))). */
  private def duckBits(n: Long): Int = {
    val m = math.max(1L, n / 50)
    math.max(1, math.min(20, lengthBin(m - 1)))
  }

  /** Queries.ScaledIvfCellsSql:
    * GREATEST(16, LEAST(4096, 1 << ((length(bin(GREATEST(1, n))) + 1) // 2))). */
  private def duckCells(n: Long): Int = {
    val bl = lengthBin(math.max(1L, n))
    math.max(16L, math.min(4096L, 1L << ((bl + 1) / 2))).toInt
  }

  private val ns: Seq[Long] = (samples(Gen.oneOf(
    Gen.choose(1L, 200L),
    Gen.choose(1L, 10000000L),
    // power-of-two boundaries ±1 — where ceil-log2 forms disagree first
    Gen.choose(0, 40).map(1L << _).flatMap(p => Gen.oneOf(p - 1, p, p + 1))),
    600, 0xC0FFEE) :+ 1L :+ 2L :+ 49L :+ 50L :+ 51L)
    .filter(_ >= 1)

  test("scaledLshBits == the DuckDB params form for all sampled N ≥ 1") {
    assert(ns.nonEmpty)
    ns.foreach { n =>
      assert(Queries.scaledLshBits(n) === duckBits(n), s"N=$n")
    }
  }

  test("scaledIvfCells == the DuckDB params form for all sampled N ≥ 1") {
    ns.foreach { n =>
      assert(Queries.scaledIvfCells(n) === duckCells(n), s"N=$n")
    }
  }

  test("scaledPqKsub == LEAST(64, cells form) and packs into one BIGINT") {
    ns.foreach { n =>
      val k = Queries.scaledPqKsub(n)
      assert(k === math.min(64, duckCells(n)), s"N=$n")
      // 8 sub-codes of ceil(log2(ksub)) bits each must fit 64 bits
      val bits = 64 - java.lang.Long.numberOfLeadingZeros((k - 1).toLong)
      assert(bits * 8 <= 64, s"N=$n ksub=$k needs ${bits * 8} bits")
    }
  }

  test("scaledEvalMod == GREATEST(20, n // 1000)") {
    ns.foreach { n =>
      assert(Queries.scaledEvalMod(n) === math.max(20L, n / 1000L), s"N=$n")
    }
  }

  test("fixture anchors: the exact sizes the three sf fixtures and the scale gates hit") {
    // (bits, cells, ksub) at sf0.001/sf0.01 (N=500), sf0.1 (2000),
    // sf1 (~20k), sf10 (200k)
    assert((Queries.scaledLshBits(500), Queries.scaledIvfCells(500),
      Queries.scaledPqKsub(500)) === ((4, 32, 32)))
    assert((Queries.scaledLshBits(2000), Queries.scaledIvfCells(2000),
      Queries.scaledPqKsub(2000)) === ((6, 64, 64)))
    assert((Queries.scaledLshBits(20000), Queries.scaledIvfCells(20000),
      Queries.scaledPqKsub(20000)) === ((9, 256, 64)))
    assert((Queries.scaledLshBits(200000), Queries.scaledIvfCells(200000),
      Queries.scaledPqKsub(200000)) === ((12, 512, 64)))
  }
}
